package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class ExtendedQueriesSpec extends SparkSpec {

  test("stratified sample respects per-class fractions (within slack)") {
    val sampled = ExtendedQueries.l3Stratified(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // P is sampled at 1.0 → exact; F at 0.5 and O at 0.1 →
    // binomial, allow generous slack on the small fixture.
    assert(sampled("P") == totals("P"))
    val fFrac = sampled("F").toDouble / totals("F")
    assert(fFrac > 0.3 && fFrac < 0.7, s"F fraction $fFrac")
    val oFrac = sampled.getOrElse("O", 0L).toDouble / totals("O")
    assert(oFrac < 0.25, s"O fraction $oFrac")
  }

  test("stratified sample is deterministic for a fixed seed") {
    val a = ExtendedQueries.l3Stratified(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val b = ExtendedQueries.l3Stratified(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("mixture sample: boundary stratum kept whole, dominant " +
      "stratum downsampled ~K/sqrt(n), deterministic") {
    val totals = Tables.documents(spark, sfDir)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = ExtendedQueries.l12MixtureSample(spark, sfDir).collect()
    val kept = rows.groupBy(_.getString(1)).view.mapValues(_.length)
    rows.foreach { r =>
      val (lang, n, thr) = (r.getString(1), r.getLong(2), r.getLong(3))
      assert(n == totals(lang), s"census column wrong for $lang")
      val expect = math.floor(math.min(1.0,
        ExtendedQueries.MixtureK / math.sqrt(n.toDouble)) * 1e6).toLong
      assert(thr == expect, s"threshold for $lang: $thr != $expect")
    }
    // a stratum with n <= K^2 keeps every doc (threshold = 1e6)
    totals.filter(_._2 <= 64).foreach { case (lang, n) =>
      assert(kept.getOrElse(lang, 0) == n.toInt,
        s"stratum $lang (n=$n) must be kept whole")
    }
    // the dominant stratum lands near its K/sqrt(n) binomial mean
    val (bigLang, bigN) = totals.maxBy(_._2)
    val rate = ExtendedQueries.MixtureK / math.sqrt(bigN.toDouble)
    val frac = kept.getOrElse(bigLang, 0).toDouble / bigN
    assert(math.abs(frac - rate) < 0.2,
      s"$bigLang keep fraction $frac vs rate $rate")
    // hash sampling is a property of the data — rerun is identical
    val again = ExtendedQueries.l12MixtureSample(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
  }

  test("outlier fence counts are sane") {
    val r = ExtendedQueries.x12OutlierFence(spark, sfDir).head()
    val (outliers, total) = (r.getLong(0), r.getLong(1))
    assert(total == Tables.orders(spark, sfDir).count())
    assert(outliers >= 0 && outliers < total / 4,
      s"Tukey fence should flag a minority: $outliers/$total")
  }

  test("approx percentile twin is rank-exact at small SF") {
    import org.apache.spark.sql.expressions.Window
    // percentile_approx at accuracy >= group size must return the
    // stored element at rank ceil(p*n) — the contract the DuckDB
    // oracle for x8b encodes with row_number().
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    val ranked = Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("grp_n",
        count(lit(1)).over(Window.partitionBy("o_orderstatus")))
    val expected = ranked.groupBy("o_orderstatus")
      .agg(
        max(when(col("rn") === ceil(col("grp_n") * lit(0.5)),
          col("o_totalprice"))).as("median_price"),
        max(when(col("rn") === ceil(col("grp_n") * lit(0.9)),
          col("o_totalprice"))).as("p90_price"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val actual = ExtendedQueries.x8bApproxPercentile(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(actual == expected)
  }

  test("approx outlier fence matches total and flags a minority") {
    val r = ExtendedQueries.x12bApproxFence(spark, sfDir).head()
    val (outliers, total) = (r.getLong(0), r.getLong(1))
    assert(total == Tables.orders(spark, sfDir).count())
    assert(outliers >= 0 && outliers < total / 4,
      s"Tukey fence should flag a minority: $outliers/$total")
  }

  test("profile reports one row per profiled column, zero nulls") {
    val rows = ExtendedQueries.p11Profile(spark, sfDir).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(2) == 0L)) // synthetic data: no nulls
    val statusRow = rows.find(_.getString(0) == "o_orderstatus").get
    assert(statusRow.getLong(3) == 3L)
  }

  test("p11b: approx profile matches exact within 3xrsd, no Expand in plan") {
    val approx = ExtendedQueries.p11bProfileApprox(spark, sfDir)
    // the 100 TB argument: approx_count_distinct must plan as a plain
    // two-phase HashAggregate — no Expand row multiplication
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"approx profile must not pay Expand:\n$plan")
    // r16: the exact profile moved to the two-level census, so BOTH
    // profiles are now Expand-free — the r15 contrast (exact = the
    // Expand twin) no longer exists by design
    assert(!ExtendedQueries.p11Profile(spark, sfDir)
      .queryExecution.executedPlan.toString.contains("Expand"),
      "exact profile must use the two-level census, not Expand")
    val exact = ExtendedQueries.p11Profile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val bound = RelationalQueries.ApproxDistinctBound
    ExtendedQueries.p11bProfileApprox(spark, sfDir).collect().foreach { r =>
      val e = exact(r.getString(0))
      // deterministic fields identical
      assert(r.getLong(1) == e.getLong(1) && r.getLong(2) == e.getLong(2))
      assert(r.getString(4) == e.getString(4) &&
        r.getString(5) == e.getString(5))
      val rel = math.abs(
        r.getLong(3).toDouble / e.getLong(3).toDouble - 1.0)
      assert(rel <= bound,
        s"${r.getString(0)}: approx ${r.getLong(3)} vs exact " +
          s"${e.getLong(3)} — relative error $rel > $bound")
    }
  }

  test("grouping sets emits exactly the requested levels") {
    import org.apache.spark.sql.functions.col
    val orders = Tables.orders(spark, sfDir)
    val nStatus = orders.select("o_orderstatus").distinct().count()
    val nPrio = orders.select("o_orderpriority").distinct().count()
    val out = ExtendedQueries.g4GroupingSets(spark, sfDir).cache()
    assert(out.count() == nStatus + nPrio + 1)
    // the grand-total row aggregates everything
    val total = out.filter(col("g_status") === 1 && col("g_priority") === 1)
    assert(total.count() == 1)
    assert(total.head().getAs[Long]("n_orders") == orders.count())
  }

  test("moving frame never exceeds 7 rows and sum matches at frame start") {
    import org.apache.spark.sql.functions.col
    val out = ExtendedQueries.w4MovingAgg(spark, sfDir).cache()
    assert(out.filter(col("mov_n") < 1 || col("mov_n") > 7).count() == 0)
    // first row of each partition: moving sum == its own value is
    // implied by mov_n == 1 and avg == sum
    assert(out.filter(col("mov_n") === 1)
      .filter(col("mov_avg_cents") =!= col("mov_sum_cents")).count() == 0)
  }

  test("range join plans as an equi-join on the bucket, never a cartesian") {
    val plan = ExtendedQueries.x16RangeJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("every incident window contains at least its own event") {
    import org.apache.spark.sql.functions.col
    val out = ExtendedQueries.x16RangeJoin(spark, sfDir)
    assert(out.filter(col("n_events") < 1).count() == 0)
    val nIncidents = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_id") % 100 === 0).count()
    assert(out.count() == nIncidents)
  }

  test("scalable rownum equals the naive global window, without its plan") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val got = ExtendedQueries.x20ScalableRownum(spark, sfDir)
    val naive = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("doc_id"))).cast("long"))
    assert(got.join(naive, Seq("doc_id", "source"))
      .filter(got("rn") =!= naive("rn")).count() == 0)
    assert(got.count() == naive.count())
    // plan shape: the DATA-scale window must be partitioned by
    // bucket (parallel), and the only SinglePartition window sits
    // over the constant-size bucket census, never the documents scan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bucket"),
      s"data window must shuffle by bucket:\n$plan")
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("Exchange SinglePartition"),
      "fixture check: the naive window does single-partition")
    // every SinglePartition exchange in OUR plan must carry
    // pre-aggregated rows (1-row bounds aggs, 32-row bucket census)
    // — its immediate child is always a HashAggregate, never a scan
    // or data-scale operator
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
          s"SinglePartition exchange over non-aggregated data at " +
            s"line $i:\n$plan")
      }
  }

  test("weighted sample: equals the naive running-sum rule and " +
    "keeps the data-scale window bucketed") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), math.max(r.getLong(1), 1L)))
      .sortBy(_._1)
    val tw = docs.map(_._2).sum
    val stride = math.max(tw / ExtendedQueries.WeightedSampleK, 1L)
    var cum = 0L
    val expect = docs.flatMap { case (id, w) =>
      val before = cum; cum += w
      if (before / stride < cum / stride) Some(id -> (w, cum))
      else None
    }.toMap
    val out = ExtendedQueries.l11WeightedSample(spark, sfDir)
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    // every pick carries weight >= any skipped doc could only by
    // chance: instead check the systematic-design size bound
    assert(math.abs(got.size - ExtendedQueries.WeightedSampleK) <= 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bucket"),
      s"running-sum window must shuffle by bucket:\n$plan")
  }

  test("scalable rank family equals the naive global windows") {
    import org.apache.spark.sql.expressions.Window
    val got = ExtendedQueries.x21ScalableRanks(spark, sfDir)
    val w = Window.orderBy(col("doc_id"))
    val naive = Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .withColumn("ntile_n",
        ntile(ExtendedQueries.NtileBuckets).over(w).cast("long"))
      .withColumn("pr_n", percent_rank().over(w))
      .withColumn("cd_n", cume_dist().over(w))
    val bad = got.join(naive, "doc_id")
      .filter(col("ntile") =!= col("ntile_n") ||
        col("percent_rank") =!= col("pr_n") ||
        col("cume_dist") =!= col("cd_n"))
      .count()
    assert(bad == 0)
  }

  test("lateral top-k: <=2 rows per customer, equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val got = ExtendedQueries.x22LateralTopk(spark, sfDir)
    assert(got.groupBy("o_custkey").count()
      .filter(col("count") > 2).count() == 0)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    val viaWindow = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2).drop("rk")
    assert(got.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(got).count() == 0)
  }

  test("recursive CTE walks the binary part tree with doubling levels") {
    val levels = ExtendedQueries.x23RecursiveCte(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(levels(0) == 1L)
    // full binary levels double until the part-table boundary prunes
    val full = levels.keys.max - 1
    (1 until full).foreach(d =>
      assert(levels(d) == 2L * levels(d - 1),
        s"level $d should double: $levels"))
  }

  test("dq constraints count planted violations exactly, one scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dq").toString
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    val old = java.sql.Timestamp.valueOf("1989-12-31 00:00:00")
    Seq(
      (Option(1L), "F", 100.0, ts),      // clean
      (Option(1L), "O", 200.0, ts),      // dup key
      (Option.empty[Long], "P", 300.0, ts), // null key
      (Option(2L), "X", 400.0, ts),      // bad status
      (Option(3L), "F", -5.0, ts),       // price below range
      (Option(4L), "O", 700000.0, ts),   // price above range
      (Option(5L), "P", 500.0, old))     // date before floor
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val r = ExtendedQueries.p13DqConstraints(spark, tmp).head()
    assert(r.getLong(0) == 7)  // n_rows
    assert(r.getLong(1) == 1)  // null_keys
    // dup_keys = count - countDistinct; countDistinct ignores NULL,
    // so 7 - 5 distinct non-null keys = 2 (the dup AND the null row
    // both surface — a null key is a key-contract violation too)
    assert(r.getLong(2) == 2)
    assert(r.getLong(3) == 2)  // price range
    assert(r.getLong(4) == 1)  // status domain
    assert(r.getLong(5) == 1)  // date floor
    // single scan: exactly one FileScan in the plan
    val plan = ExtendedQueries.p13DqConstraints(spark, tmp)
      .queryExecution.executedPlan.toString
    assert(plan.split("FileScan").length - 1 == 1,
      s"all rules must share ONE scan:\n$plan")
  }

  test("null-safe join matches NULL keys and stays a hash join") {
    val out = ExtendedQueries.j8NullsafeJoin(spark, sfDir)
    val got = out.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the NULL-keyed dim row must capture exactly the medium orders
    val medium = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "3-MEDIUM").count()
    assert(got("medium-bucket") == medium,
      s"NULL key must match all nulled facts: $got vs $medium")
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(got("urgent") == urgent)
    // <=> is hash-joinable: never a nested-loop/cartesian plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("posexplode ordinal count matches token count per document") {
    import org.apache.spark.sql.functions.{col, max, size, split}
    val expected = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val got = ExtendedQueries.x15Posexplode(spark, sfDir)
      .groupBy("doc_id")
      .agg((max(col("pos")) + 1).as("n_got"))
    assert(expected.join(got, "doc_id")
      .filter(col("n") =!= col("n_got")).count() == 0)
  }

  test("sampled quantiles select rank-exactly over the portable-hash " +
      "sample") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sample = Tables.orders(spark, sfDir)
      .filter(graft.core.PortableHash.md5Hash60(col("o_orderkey"))
        % ExtendedQueries.SampleMod === 0L)
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"))
    val ref = sample
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("o_orderstatus"))))
      .groupBy(col("o_orderstatus"))
      .agg(
        max(when(col("rn") ===
          ceil(lit(0.5) * col("m")).cast("long"),
          col("o_totalprice"))).as("med"),
        max(when(col("rn") ===
          ceil(lit(0.9) * col("m")).cast("long"),
          col("o_totalprice"))).as("p90"),
        count(lit(1)).as("m"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    val got = ExtendedQueries.x8cSampledQuantiles(spark, sfDir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got == ref,
      s"sampled quantiles diverge from the window selection: $got vs $ref")
    // the sample must be a genuine subset (≈ 1/SampleMod of rows)
    val n = Tables.orders(spark, sfDir).count()
    val m = got.values.map(_._3).sum
    assert(m > 0 && m < n / 2,
      s"sample size $m implausible for $n rows at mod " +
        s"${ExtendedQueries.SampleMod}")
  }
}
