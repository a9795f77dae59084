package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.TextQueries

class WinnowFpsSpec extends SparkSpec {

  test("native winnow_fps is bit-identical to the composed HOF chain") {
    // Corpus-wide EXACT-array equality (values AND first-appearance
    // order): the winnow oracle family (t_winnow_fp,
    // dd_winnow_pairs, dd_dup_spans) rests on the native expression
    // reproducing the HOF selection digest-for-digest.
    val w = TextQueries.WinnowWindow
    val diff = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .select(
        expr(s"winnow_fps(words, $w)").as("fast"),
        TextQueries.winnowFpHof("words").as("ref"))
      .filter(not(col("fast") <=> col("ref")))
      .count()
    assert(diff == 0)
  }

  test("short-document edge parity with the HOF spelling") {
    import spark.implicits._
    val w = TextQueries.WinnowWindow
    // 1-word, 2-word, exactly-3-word, empty-string, and sub-window
    // gram counts — every slice-clamp branch.
    val docs = Seq("a", "a b", "a b c", "", "a b c d",
      "a b c d e f g h i j").toDF("text")
      .withColumn("words", split(col("text"), " "))
    val diff = docs.select(
        expr(s"winnow_fps(words, $w)").as("fast"),
        TextQueries.winnowFpHof("words").as("ref"))
      .filter(not(col("fast") <=> col("ref")))
      .count()
    assert(diff == 0)
    // null in -> null out
    val n = docs.select(
      expr(s"winnow_fps(CAST(NULL AS ARRAY<STRING>), $w)").as("v"))
      .filter(col("v").isNotNull).count()
    assert(n == 0)
  }

  test("native gram_hashes is bit-identical to the composed HOF transform") {
    val diff = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .select(
        expr("gram_hashes(words)").as("fast"),
        expr("transform(sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> md5_hash60(concat_ws(' ', slice(words, i, 3))))")
          .as("ref"))
      .filter(not(col("fast") <=> col("ref")))
      .count()
    assert(diff == 0)
  }

  test("winnow_fps stays inside a WholeStageCodegen span") {
    val plan = Tables.documents(spark, sfDir)
      .select(expr(
        s"winnow_fps(split(text, ' '), ${TextQueries.WinnowWindow})"))
      .queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen spans
    assert(plan.contains("*(1) Project [winnow_fps"),
      s"expected winnow_fps inside a codegen span in:\n$plan")
  }
}
