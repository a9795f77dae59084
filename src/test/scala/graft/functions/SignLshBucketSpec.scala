package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SignLshBucketSpec extends SparkSpec {

  /** The composed HOF spelling the ANN queries used before the
    * native expression — the bit-equality reference. */
  private def composed(planes: Int): String = {
    val sig =
      s"""aggregate(
         |  zip_with(e, sequence(0, size(e) - 1),
         |    (x, i) -> named_struct('x', x, 'i', i)),
         |  array_repeat(cast(0.0 as double), $planes),
         |  (acc, s) -> zip_with(acc, sequence(0, ${planes - 1}),
         |    (a, p) -> a + s.x * CASE WHEN (xxhash64(s.i, p) & 1) = 1
         |                        THEN 1.0 ELSE -1.0 END))""".stripMargin
    s"""aggregate(
       |  zip_with($sig, sequence(0, ${planes - 1}),
       |    (v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END),
       |  0L, (acc, x) -> acc + x)""".stripMargin
  }

  test("bit-equal to the composed HOF spelling on the real embeddings") {
    for (planes <- Seq(8, 12)) {
      val rows = graft.core.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .selectExpr("vec_id",
          s"signlsh_bucket(e, $planes) AS native",
          s"${composed(planes)} AS composed")
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"vec ${r.getLong(0)} planes=$planes: " +
            s"native ${r.getLong(1)} != composed ${r.getLong(2)}")
      }
    }
  }

  test("edge cases: empty vector, zeros, null, planes bounds") {
    val r = spark.sql(
      """SELECT
        | signlsh_bucket(CAST(array() AS ARRAY<DOUBLE>), 8) AS empty,
        | signlsh_bucket(array(0.0d, 0.0d), 8) AS zeros,
        | signlsh_bucket(CAST(NULL AS ARRAY<DOUBLE>), 8) AS null_in
        |""".stripMargin).head()
    // no positive projection → no bit set (matches CASE WHEN v > 0)
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == 0L)
    assert(r.isNullAt(2))
    val e = intercept[Exception] {
      spark.sql("SELECT signlsh_bucket(array(1.0d), 63)").collect()
    }
    assert(e.getMessage.contains("[1, 62]"))
  }

  test("null ELEMENTS are defined as 0.0 contributions (ADVICE r7)") {
    // interpreted eval AND codegen must agree: a null slot is skipped,
    // identical to a 0.0 value at that position.
    val r = spark.sql(
      """SELECT
        | signlsh_bucket(array(1.5d, CAST(NULL AS DOUBLE), -2.0d), 8)
        |   AS with_null,
        | signlsh_bucket(array(1.5d, 0.0d, -2.0d), 8) AS with_zero,
        | signlsh_bucket(array(CAST(NULL AS DOUBLE)), 8) AS all_null
        |""".stripMargin).head()
    assert(r.getLong(0) == r.getLong(1),
      "null element must bucket identically to a 0.0 element")
    assert(r.getLong(2) == 0L, "all-null vector → zero projection")
  }

  test("runs inside a WholeStageCodegen span") {
    val plan = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("e"))
      .selectExpr("signlsh_bucket(e, 8) AS b")
      .queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen spans
    assert(plan.contains("*(1) Project [signlsh_bucket"),
      s"expected signlsh_bucket inside a codegen span in:\n$plan")
  }
}
