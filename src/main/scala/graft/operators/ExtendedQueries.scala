package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Second-ring relational surface: pivot, scalar subqueries, HAVING,
  * string/date scalar functions — all oracle-checked. Determinism
  * rules follow RelationalQueries (exact thresholds, integer outputs,
  * casts pinned on both engines).
  */
object ExtendedQueries {
  type Q = (SparkSession, String) => DataFrame

  /** PIVOT: order counts per year × status (explicit pivot values →
    * stable schema at any scale; an unpinned pivot needs an extra
    * distinct pass to discover columns). */
  def x2Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)

  /** Scalar subquery: orders above half the global max price. The
    * threshold is max/2 (exact fp) — never a mean, whose
    * accumulation order would make the boundary nondeterministic. */
  def x3ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_ss")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders_ss
        |WHERE o_totalprice >
        |  (SELECT max(o_totalprice) FROM orders_ss) / 2""".stripMargin)
  }

  /** HAVING: customers with more than 3 orders (post-aggregation
    * filter — Catalyst runs it after the partial+final agg). */
  def x4Having(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 3)

  /** String scalar functions over nation (small, all-deterministic):
    * upper/lower/substring/concat/replace/lpad/trim/length. */
  def x5StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("n_nationkey"),
      upper(col("n_name")).as("up"),
      lower(col("n_name")).as("lo"),
      substring(col("n_name"), 1, 3).as("pre3"),
      concat_ws("-", col("n_name"), col("n_regionkey")).as("joined"),
      regexp_replace(col("n_name"), "a", "@").as("replaced"),
      lpad(col("n_nationkey").cast("string"), 4, "0").as("padded"),
      length(col("n_name")).cast("long").as("name_len"))

  /** Date/time scalar functions over orders: year/month/day
    * extraction + integer month code (yyyyMM). */
  def x6DateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("ym_code"))

  /** NULL-handling functions via the lag frame: coalesce / nullif /
    * null-aware equality on the previous event value per user. */
  def x7NullFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev"))
      .select(
        col("event_id"),
        coalesce(col("prev"), lit(0.0)).as("prev_or_zero"),
        nullif(col("value"), col("prev")).as("value_if_changed"),
        col("prev").isNull.as("is_first"),
        (col("value") <=> col("prev")).as("same_as_prev"))
  }

  /** Exact percentiles (linear interpolation at rank p·(n-1) — the
    * same definition in Spark's `percentile` and DuckDB's
    * `quantile_cont`; the interpolation is one arithmetic op on two
    * exact stored values → deterministic).
    *
    * MEMORY BOUND: Spark's exact Percentile buffers a value→count
    * OpenHashMap per group; on a near-all-distinct column like
    * o_totalprice that map grows linearly with group size — unbounded
    * executor memory at 100 TB. Kept for the oracle at test SF; the
    * scale path is [[x8bApproxPercentile]] (O(accuracy) state). */
  def x8Percentile(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n"))

  /** GK sketch accuracy for the approx-quantile family (x8b / x8c /
    * x12b). Two regimes meet here:
    *   - ORACLE scale (sf0.01, where the hash compare runs): with
    *     accuracy ≥ group row count the sketch never merges (the GK
    *     merge threshold 2·n/accuracy stays < 1), so the query is
    *     rank-exact — 1e5 keeps that property with 6× headroom over
    *     the sf0.01 orders table (~15k rows).
    *   - REHEARSAL/100 TB scale: past ~accuracy/2 rows per group the
    *     sketch must COMPRESS, and the retained state must stay
    *     O(accuracy), not O(n). r18's accuracy=1e6 defeated that —
    *     at the 1.5M-row rehearsal point ε=1e-6 made every compress
    *     pass a no-op (merge threshold 2εn ≈ 3 admits nothing), so
    *     partials retained ALL values and the final merge churned
    *     1.5M heap objects: 5.6 s and the rehearsal's worst exponent
    *     (1.25, GC-bound). At 1e5 the same point runs 1.1 s with the
    *     sketch actually sketching (ε = 1e-5 ⇒ ±15 ranks at 1.5M). */
  val ApproxAccuracy = 100000

  /** Scale-safe percentile twin of x8: `percentile_approx`
    * (Greenwald-Khanna sketch) caps executor state at O(accuracy)
    * retained samples per group REGARDLESS of input size — the
    * 100 TB answer to exact Percentile's unbounded value map.
    * Determinism for the oracle: with [[ApproxAccuracy]] ≥ group row
    * count the GK sketch never merges, so the query is rank-exact
    * and returns the stored element at rank ceil(p·n) (1-indexed;
    * verified empirically across n=4,5,10,11 × p=.25,.5,.75,.9) —
    * which the DuckDB oracle reproduces with row_number(). Both
    * engines compute the p·n product in IEEE double (the oracle
    * casts the literal to DOUBLE so DuckDB doesn't use DECIMAL
    * arithmetic), so the rank agrees bit-for-bit. Beyond
    * ~[[ApproxAccuracy]] rows per group the same query degrades
    * gracefully to ε rank error instead of failing on memory. */
  def x8bApproxPercentile(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr(s"percentile_approx(o_totalprice, 0.5, $ApproxAccuracy)")
          .as("median_price"),
        expr(s"percentile_approx(o_totalprice, 0.9, $ApproxAccuracy)")
          .as("p90_price"),
        count(lit(1)).as("n"))

  /** Sampling modulus for [[x8cSampledQuantiles]]: keep a row iff
    * md5-60(key) mod this == 0 (≈ 1/8 of rows). Interpolated into
    * the oracle. */
  val SampleMod = 8L

  /** Quantiles over a PORTABLE-HASH row sample — the third member of
    * the quantile ladder (x8 exact / x8b engine-internal sketch /
    * x8c hash sample): at 100 TB you estimate quantiles from a
    * uniform sample whose MEMBERSHIP is a data property
    * (md5-60(key) mod [[SampleMod]] == 0 — identical across engines,
    * partitionings, and reruns, and mergeable across files by
    * construction), unlike seeded `sample()` whose draw depends on
    * partition layout, and unlike sketch internals that no other
    * engine can replay. The quantile of the sample is then computed
    * RANK-EXACTLY (the x8b percentile_approx trick at
    * [[ApproxAccuracy]]),
    * so the whole estimate — sample set AND rank selection —
    * hash-verifies in DuckDB. Emits the sample size per group so the
    * estimate's precision is auditable. */
  def x8cSampledQuantiles(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(graft.core.PortableHash.md5Hash60(col("o_orderkey"))
        % SampleMod === 0L)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr(s"percentile_approx(o_totalprice, 0.5, $ApproxAccuracy)")
          .as("median_est"),
        expr(s"percentile_approx(o_totalprice, 0.9, $ApproxAccuracy)")
          .as("p90_est"),
        count(lit(1)).as("m_sample"))
  }

  /** IN-subquery → left-semi join after Catalyst rewrite. */
  def x9InSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_in")
    Tables.customer(s, dir).createOrReplaceTempView("customer_in")
    s.sql(
      """SELECT o_orderkey, o_custkey FROM orders_in
        |WHERE o_custkey IN (SELECT c_custkey FROM customer_in
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin)
  }

  /** Correlated scalar subquery — decorrelated by Catalyst into an
    * outer-join + aggregate. */
  def x10Correlated(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_corr")
    Tables.customer(s, dir).createOrReplaceTempView("customer_corr")
    s.sql(
      """SELECT c_custkey,
        | (SELECT count(*) FROM orders_corr
        |  WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer_corr""".stripMargin)
  }

  /** Deterministic string aggregation: collect_set is unordered, so
    * the only hash-safe form is sort-then-join — emitted as one
    * string per group. */
  def g3StringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("n_name"))))
          .as("nations"),
        countDistinct(col("n_name")).as("n_nations"))

  /** Regexp extraction + LIKE filtering (patterns kept to the
    * portable subset — digit classes and anchors behave identically
    * in Java regex and RE2). */
  def x11Regexp(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority").like("%-%"))
      .select(
        col("o_orderkey"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1)
          .as("priority_num"),
        regexp_extract(col("o_orderpriority"), "-(\\w+)$", 1)
          .as("priority_word"))

  /** Tukey-fence outlier census — the standard numeric-cleaning gate
    * for training data: flag rows outside [q1-1.5·IQR, q3+1.5·IQR].
    * Exact percentiles (same interpolation both engines) keep the
    * fence values deterministic.
    *
    * MEMORY BOUND: same caveat as [[x8Percentile]] — exact Percentile
    * buffers every distinct o_totalprice; the scale path is
    * [[x12bApproxFence]]. */
  def x12OutlierFence(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_of")
    s.sql(
      """WITH q AS (
        |  SELECT percentile(o_totalprice, 0.25) AS q1,
        |         percentile(o_totalprice, 0.75) AS q3
        |  FROM orders_of)
        |SELECT
        |  CAST(sum(CASE WHEN o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
        |                  OR o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_total
        |FROM orders_of CROSS JOIN q""".stripMargin)
  }

  /** Scale-safe twin of x12: the fence quantiles come from
    * `percentile_approx` (bounded GK sketch — see
    * [[x8bApproxPercentile]] for the determinism argument). q1/q3 are
    * exact stored elements at rank ceil(p·n) at test SF, the fence
    * arithmetic is the same IEEE-double ops in both engines, and the
    * outputs are integer counts — hash-stable. */
  def x12bApproxFence(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_af")
    s.sql(
      s"""WITH q AS (
        |  SELECT percentile_approx(o_totalprice, 0.25, $ApproxAccuracy) AS q1,
        |         percentile_approx(o_totalprice, 0.75, $ApproxAccuracy) AS q3
        |  FROM orders_af)
        |SELECT
        |  CAST(sum(CASE WHEN o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
        |                  OR o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_total
        |FROM orders_af CROSS JOIN q""".stripMargin)
  }

  /** Column profiling — the df.summary() capability as a
    * deterministic relational query: per-column null count, distinct
    * count, and exact min/max.
    *
    * r16 (VERDICT r15 task #6 — the t_trgm_index_stats discipline):
    * the single-agg formulation put three COUNT(DISTINCT)s in one
    * Aggregate, which Catalyst plans via Expand — every input row is
    * REPLICATED ×4 (one copy per distinct group + one for the plain
    * aggregates) before the first partial agg. The two-level census
    * replaces it: per column, groupBy(value) → count, then one global
    * agg over the (value, cnt) census reads off every statistic —
    * n_rows = Σcnt, n_nulls = Σcnt over the null group, n_distinct =
    * #non-null groups, min/max over group keys (computed in the
    * column's NATIVE type, then cast — a string-side min would order
    * "10" < "9"). Three narrow scans replace one ×4-expanded wide
    * scan; with columnar storage each scan reads exactly one
    * column's chunks, so total I/O is unchanged while the shuffles
    * carry censuses (distinct values), not replicated rows — the
    * shape that survives 100 TB. */
  def p11Profile(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    def profile(c: String): DataFrame =
      orders.select(col(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n_rows"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L))
            .cast("long").as("n_nulls"),
          count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
          min(col("v")).cast("string").as("min_str"),
          max(col("v")).cast("string").as("max_str"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_str"), col("max_str"))
    profile("o_orderstatus")
      .unionByName(profile("o_orderpriority"))
      .unionByName(profile("o_custkey"))
  }

  /** [[p11Profile]]'s 100 TB twin (VERDICT r7 task #2): same profile
    * shape, but the three COUNT(DISTINCT)s become
    * `approx_count_distinct` — ONE HashAggregate pass over the scan
    * with NO Expand (p11's exact distincts multiply every input row
    * ×4 through Expand before aggregating; the HLL++ sketches are
    * fixed-memory and mergeable, so the approx plan's cost is a
    * plain scan at any scale). Same pattern as x8/x8b: the exact
    * entry stays as the oracle-grade profile, this is the plan you
    * run at 100 TB.
    *
    * Rows-only by construction (FINAL): HLL++ estimates are
    * algorithm-specific and cannot hash-match another engine.
    * Compensating spec (ExtendedQueriesSpec "p11b") asserts each
    * approx distinct lands within 3×rsd of p11's exact count and
    * that the physical plan contains no Expand.
    *
    * Plan shape (VERDICT r16 task #2 — the warm=cold watch item,
    * diagnosed r17): the former one-wide-Aggregate formulation put
    * all three columns' sketch + min/max + null work into a SINGLE
    * scan split's partial agg — the small parquet input plans one
    * split, so the whole profile ran serially on 1 of 32 cores while
    * p11's exact twin got its three per-column censuses as three
    * INDEPENDENT narrow single-task stages running concurrently
    * (which is why the "100 TB plan" was losing to the exact twin at
    * bench SF; a repartition-before-agg A/B was measured WORSE —
    * +0.26 s median — because it trades the serial partial agg for a
    * full row exchange). The fix mirrors p11's shape: one narrow
    * scan + one tiny agg per column, unioned — per-column stages run
    * in parallel at any split count, each scan reads exactly one
    * column's chunks (columnar I/O unchanged), no exchange carries
    * rows, and the per-column aggregate is still the fixed-memory
    * HLL++ sketch with NO Expand anywhere. */
  def p11bProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val rsd = graft.operators.RelationalQueries.ApproxDistinctRsd
    val orders = Tables.orders(s, dir)
    def profile(c: String): DataFrame =
      orders.select(col(c).as("v"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_nulls"),
          approx_count_distinct(col("v"), rsd).as("n_distinct"),
          min(col("v")).cast("string").as("min_str"),
          max(col("v")).cast("string").as("max_str"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_str"), col("max_str"))
    profile("o_orderstatus")
      .unionByName(profile("o_orderpriority"))
      .unionByName(profile("o_custkey"))
  }

  /** L3: stratified sampling via the engine-portable hash — keep a
    * row iff md5-60(key) mod 1e6 falls under the stratum's fraction.
    * Unlike seeded Bernoulli `sampleBy` (whose draws depend on the
    * PARTITION LAYOUT — a different file split yields a different
    * sample), the hash sample is a property of the DATA: reproducible
    * across engines, partitionings, and re-runs, which is what a
    * 100 TB training-data split actually requires, and what lets the
    * oracle verify it exactly. */
  def l3Stratified(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .withColumn("h",
        graft.core.PortableHash.md5Hash60(col("o_orderkey")) % 1000000L)
      .filter(
        (col("o_orderstatus") === "F" && col("h") < 500000L) ||
          (col("o_orderstatus") === "O" && col("h") < 100000L) ||
          col("o_orderstatus") === "P")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"))
  }

  /** Keep-rate constant for [[l12MixtureSample]]: a stratum of n docs
    * is kept with probability min(1, K/√n) — strata with n ≤ K² (64)
    * are kept whole, larger ones are downsampled ∝ 1/√n.
    * Interpolated into the oracle SQL. */
  val MixtureK = 8.0

  /** L4: temperature-style mixture rebalancing — the multilingual-
    * corpus sampling discipline (mT5/XLM-R's α-temperature source
    * weighting, α = 0.5): downsample each language stratum with
    * probability min(1, [[MixtureK]]/√n_l), so dominant languages
    * shrink ∝ 1/√n while rare ones survive intact — the mixture
    * moves toward p_l ∝ √n_l without an explicit normalizer.
    *
    * The keep-threshold is deliberately UNNORMALIZED (no Σ√n term):
    * every arithmetic step — sqrt, divide, least, multiply, floor —
    * is a single correctly-rounded IEEE-754 op on identical inputs
    * in any engine, so the integer threshold (and therefore the
    * sampled SET) is bit-reproducible cross-engine, which a
    * normalizing sum of doubles could not guarantee (its rounding
    * depends on accumulation order). Membership uses the same
    * engine-portable md5-60 draw as [[l3Stratified]]: a property of
    * the DATA, not of partition layout.
    *
    * 100 TB shape: one census aggregate (|langs| rows), one
    * broadcast join of the tiny rate table, one scan-filter — a
    * single pass over the corpus, no driver-side loop. */
  def l12MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rates = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_l"))
      .withColumn("threshold",
        floor(least(lit(1.0),
          lit(MixtureK) / sqrt(col("n_l").cast("double"))) * 1000000.0)
          .cast("long"))
    docs.join(broadcast(rates), "lang")
      .filter(graft.core.PortableHash.md5Hash60(col("doc_id"))
        % 1000000L < col("threshold"))
      .select(col("doc_id"), col("lang"), col("n_l"), col("threshold"))
  }

  /** Array-function surface over grouped data: collect_set → sorted
    * array, size / membership / slice. Sorting the collected set is
    * what makes a set-valued column deterministic (collect order is
    * partition-dependent; the sorted ARRAY is a property of the
    * data). */
  def x13ArrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_set(col("o_orderstatus"))).as("statuses"))
      .select(col("o_orderpriority"),
        // array columns serialize to strings for the compare harness
        // (the hash compare can't digest list cells); the array ops
        // themselves still run in-plan.
        concat_ws(",", col("statuses")).as("statuses_csv"),
        size(col("statuses")).as("n_statuses"),
        array_contains(col("statuses"), "F").as("has_f"),
        concat_ws(",", slice(col("statuses"), 1, 2)).as("first_two_csv"))

  /** GROUPING SETS with grouping flags — finer than rollup/cube:
    * exactly the requested aggregation levels in ONE pass (Spark
    * plans a single Expand + aggregate, so N levels cost one shuffle,
    * not N scans). */
  def g4GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("sum_cents"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"))

  /** Sliding-frame window aggregation: per-supplier 7-row moving sum
    * and integer moving mean over ship-date-ordered lineitems. ROWS
    * frame with a unique tie-break (default RANGE frames include
    * peers — playbook rule); integer-cent math end to end. */
  def w4MovingAgg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-6, Window.currentRow)
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .withColumn("mov_sum_cents", sum(col("cents")).over(w))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_avg_cents", expr("mov_sum_cents div mov_n"))
      .drop("cents", "l_shipdate")
  }

  /** Top-3 lineitems per supplier by price — runs on the custom
    * whole-operator path (graft.plans.TopKPerGroup: logical node +
    * Strategy + partial/final physical exec with bounded per-group
    * heaps) instead of window(row_number) → filter. Same answer as
    * the window formulation (pinned by TopKPerGroupSpec AND this
    * oracle), different physical plan: no Sort, ≤ k rows per group
    * per map task shuffled. */
  def w5TopkGroup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    graft.plans.TopKPerGroup(base, Seq("l_suppkey"), "cents",
      descending = true, Seq("l_orderkey", "l_linenumber"), 3)
  }

  /** Bucketed RANGE JOIN: events contained in incident time windows
    * with NO equi-key — the query people write as a cartesian +
    * filter. Scale path: quantize time into buckets the size of the
    * interval, explode each interval to the ≤2 buckets it covers,
    * equi-join on the bucket, then filter the exact containment —
    * candidate generation becomes a hash join on a fixed-width key
    * and each probe row meets only its time-locality, never the
    * whole table. Incidents are every 100th event; windows are
    * [t0, t0 + 10 min). All integer nano math (playbook: never
    * double-divide nanos). */
  def x16RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bucketNs = 600L * 1000000000L // 10 min, == interval length
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"))
    val incidents = ev.filter(col("event_id") % 100 === 0)
      .select(col("event_id").as("incident_id"), col("ts").as("t0"),
        (col("ts") + bucketNs).as("t1"))
    val ib = incidents.select(col("incident_id"), col("t0"), col("t1"),
      explode(sequence(expr(s"t0 div $bucketNs"),
        expr(s"(t1 - 1) div $bucketNs"))).as("bucket"))
    val eb = ev.select(col("event_id"), col("ts"),
      expr(s"ts div $bucketNs").as("bucket"))
    ib.join(eb, "bucket")
      .filter(col("ts") >= col("t0") && col("ts") < col("t1"))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Semi-structured extraction: pull a typed field out of a JSON
    * string column (`events.props`) and aggregate it — the
    * schema-on-read path. `get_json_object` evaluates per row inside
    * codegen; no full `from_json` struct materialization for a
    * single field. */
  def x17JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Fuzzy dimension matching: nearest region name by edit distance
    * for misspelled probes — the broadcast nested-loop shape is
    * CORRECT here (the dim side is 5 rows; a fuzzy theta-join has no
    * equi-key by definition, and at 100 TB the fact side streams
    * past the broadcast dim once). Unique (dist, name) ordering
    * makes the argmin deterministic. */
  def x18FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq("AFRIKA", "EUROP", "ASIA!", "AMERCA", "MIDLE EAST")
      .toDF("probe")
    val w = Window.partitionBy(col("probe"))
      .orderBy(col("dist"), col("r_name"))
    probes.crossJoin(broadcast(Tables.region(s, dir).select(col("r_name"))))
      .withColumn("dist", levenshtein(col("probe"), col("r_name")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Ordered aggregates (max_by/min_by): per status, the order
    * carrying the extreme price. Ties on price are broken by the
    * unique key packed into the comparison value (an argmax without
    * a total order is engine-unspecified — same playbook rule as
    * windows). */
  def a7ArgExtremes(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // bit packing (cents << 32) | orderkey: lexicographic on
      // (cents, orderkey) while orderkey < 2^32 — at TPC-H density
      // (orderkey ≤ 6e6·SF) that holds to SF ≈ 700, and cents ≤ ~6e7
      // keeps the product below 2^58, far from Long overflow. The
      // former decimal packing (cents·1e7 + orderkey) overlapped
      // ranges once orderkey crossed 1e7 ≈ SF 1.7 (ADVICE r5).
      .withColumn("ord",
        shiftleft(col("cents"), 32) + col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(max_by(col("o_orderkey"), col("ord")).as("max_order"),
        min_by(col("o_orderkey"), col("ord")).as("min_order"),
        max(col("cents")).as("max_cents"),
        min(col("cents")).as("min_cents"))

  /** Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL preserve
    * multiplicities (the distinct variants u1-u3 collapse them) —
    * Catalyst plans both as joins on a synthesized count. */
  def u4ExceptAll(s: SparkSession, dir: String): DataFrame = {
    val hi = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 100000.0)
      .select(col("o_custkey"))
    val recent = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) >= 1997)
      .select(col("o_custkey"))
    hi.exceptAll(recent)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_remaining"))
  }

  /** Single-pass data-quality constraint check (Deequ-style): every
    * rule — null counts, key uniqueness, range bounds, domain
    * membership — evaluated in ONE scan as conditional aggregates
    * (plus one distinct for uniqueness, the only rule that needs
    * state beyond a counter). The reference's monitoring layer runs
    * one job per check; at 100 TB N checks must cost one pass, not
    * N. Output is a single row of violation counters — zero means
    * the contract holds, and the oracle pins the exact violation
    * counts either way. */
  def p13DqConstraints(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
        .cast("long").as("null_keys"),
      (count(lit(1)) - countDistinct(col("o_orderkey")))
        .cast("long").as("dup_keys"),
      sum(when(col("o_totalprice") < 0.0 ||
        col("o_totalprice") > 600000.0, 1L).otherwise(0L))
        .cast("long").as("price_range_viol"),
      sum(when(not(col("o_orderstatus").isin("F", "O", "P")), 1L)
        .otherwise(0L)).cast("long").as("status_domain_viol"),
      sum(when(col("o_orderdate") <
        to_timestamp(lit("1990-01-01 00:00:00")), 1L).otherwise(0L))
        .cast("long").as("date_floor_viol"))

  /** NULL-safe equi-join (`<=>`): NULL keys MATCH each other instead
    * of vanishing — the semantics reconciliation/auditing joins need
    * (a plain equi-join silently drops every NULL-keyed row; at
    * 100 TB that is a correctness bug that looks like a row-count
    * drift). Catalyst plans `<=>` as a hash-joinable equi-condition
    * (EqualNullSafe is a valid hash key), NOT a theta-join — the
    * plan stays a BroadcastHashJoin (spec-asserted). Keys are made
    * nullable via nullif; the broadcast dim carries an explicit
    * NULL-keyed row that must capture exactly the nulled-out
    * fact rows. */
  def j8NullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val facts = Tables.orders(s, dir)
      .select(
        expr("nullif(o_orderpriority, '3-MEDIUM')").as("prio_key"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dim = Seq(
      (Option("1-URGENT"), "urgent"),
      (Option("2-HIGH"), "high"),
      (Option.empty[String], "medium-bucket"))
      .toDF("prio_key", "label")
    facts.join(broadcast(dim),
        facts("prio_key") <=> dim("prio_key"), "inner")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast("long").as("sum_cents"))
  }

  /** Schema-drift union (`unionByName(allowMissingColumns = true)`):
    * two vintages of the same table with different column sets union
    * by NAME with null-padding — the ingest reality of a 100 TB lake
    * whose producers evolve independently (a positional union would
    * silently mis-align columns; a strict union would refuse). The
    * census aggregate proves padding landed in the right columns. */
  def u5UnionByName(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    val v2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("price_cents")).as("n_with_price"),
        count(col("o_orderpriority")).as("n_with_priority"),
        sum(col("price_cents")).cast("long").as("sum_cents"))
  }

  /** Histogram / binning: fixed-width price buckets with a top
    * catch-all, pure integer-cent math (`div`), one
    * map-side-combined groupBy — the single-pass distribution scan a
    * profiler runs at any scale. */
  def x19Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(least(expr("cents div 5000000"), lit(11L)).as("bucket"),
        col("cents"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))

  /** Positional explode (LATERAL VIEW posexplode): token index within
    * document — the array-to-rows direction with ordinal, the shape
    * token-level NLP features need. */
  def x15Posexplode(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))

  /** Unpivot (melt): wide → long over the four balance columns of
    * the lineitem pricing measures — the inverse of x2's pivot,
    * via the native Dataset.unpivot operator. */
  def p12Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")

  /** Range-bucket width for [[x20ScalableRownum]] — the parallelism
    * of the numbering stage. 32 matches the session shuffle width;
    * at 100 TB set it to the cluster's target partition count. */
  val RownumBuckets = 32

  /** Scalable global row numbering — the 100 TB replacement for
    * `row_number() OVER (ORDER BY k)`. The naive window's empty
    * PARTITION BY collapses the whole table into ONE window
    * partition: Spark plans `Exchange SinglePartition` and sorts
    * 100 TB on a single task — the canonical does-not-scale shape.
    * Two-level reformulation, fully declarative, same answer:
    *
    *   1. equal-width range bucket on the key (min/max via a 1-row
    *      broadcast aggregate — metadata, like the IVF centroids);
    *   2. row_number PER BUCKET — parallel windows, shuffle keyed
    *      by bucket;
    *   3. bucket offsets = running count over the bucket CENSUS — a
    *      window over ≤ [[RownumBuckets]] rows, constant-size at any
    *      data scale (the only SinglePartition in the plan);
    *   4. global rn = offset + local rn.
    *
    * Oracle is the naive `row_number() OVER (ORDER BY doc_id)` —
    * DuckDB runs the semantic definition, the engine runs the
    * scalable plan, and the hash compare pins their equality. */
  def x20ScalableRownum(s: SparkSession, dir: String): DataFrame = {
    val b = RownumBuckets
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val bucketed = docs.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          (col("doc_id") - col("lo")) * b /
            (col("hi") - col("lo") + 1)).cast("long"))
      .select(col("doc_id"), col("source"), col("bucket"))
    val censusWin = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(censusWin), lit(0L)))
      .select(col("bucket"), col("offset"))
    val localWin = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    bucketed
      .withColumn("local_rn", row_number().over(localWin).cast("long"))
      .join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("source"),
        (col("offset") + col("local_rn")).as("rn"))
  }

  /** NTILE bucket count for [[x21ScalableRanks]]. */
  val NtileBuckets = 8

  /** The global RANK FAMILY derived from the scalable row number —
    * ntile, percent_rank, cume_dist over a total order, none of them
    * through the single-partition window Spark would otherwise plan.
    * Each is a closed-form function of (rn, n): NTILE's exact split
    * (first n mod k buckets get ⌈n/k⌉ rows), percent_rank =
    * (rn−1)/(n−1), cume_dist = rn/n — the divisions are IEEE ops on
    * identical integers in both engines, so the whole family stays
    * hash-compare exact. `n` is a 1-row broadcast aggregate. The
    * point: once [[x20ScalableRownum]] exists, EVERY dense global
    * ranking op derives from it map-side — no new shuffle, no global
    * sort, for any of them. */
  def x21ScalableRanks(s: SparkSession, dir: String): DataFrame = {
    val k = NtileBuckets
    val rn = x20ScalableRownum(s, dir)
    val total = rn.agg(count(lit(1)).as("n"))
    rn.crossJoin(broadcast(total))
      .withColumn("q", expr("n div " + k))
      .withColumn("r", col("n") % k)
      .withColumn("ntile", expr(
        // integer `div`, not `/` (Column./ is double division)
        """CASE WHEN rn <= r * (q + 1)
          |  THEN (rn - 1) div (q + 1) + 1
          |  ELSE r + (rn - r * (q + 1) - 1) div q + 1
          |END""".stripMargin).cast("long"))
      .withColumn("percent_rank",
        when(col("n") > 1,
          (col("rn") - 1).cast("double") / (col("n") - 1).cast("double"))
          .otherwise(lit(0.0d)))
      .withColumn("cume_dist",
        col("rn").cast("double") / col("n").cast("double"))
      .select(col("doc_id"), col("rn"), col("ntile"),
        col("percent_rank"), col("cume_dist"))
  }

  /** Correlated LATERAL subquery (Spark 3.4+/DuckDB shared syntax):
    * top-2 orders per customer expressed as the SQL-standard lateral
    * join rather than a window — the form generated SQL and BI tools
    * emit. Catalyst decorrelates it into a ranked join (no
    * per-customer re-scan); result is total-ordered by the cents
    * value with an orderkey tiebreak so the LIMIT inside the lateral
    * is deterministic in both engines. */
  def x22LateralTopk(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_lat")
    s.sql(
      """SELECT c.o_custkey, t.o_orderkey, t.cents
        |FROM (SELECT DISTINCT o_custkey FROM orders_lat) c,
        |LATERAL (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders_lat o
        |  WHERE o.o_custkey = c.o_custkey
        |  ORDER BY cents DESC, o_orderkey
        |  LIMIT 2
        |) t""".stripMargin)
  }

  /** Depth bound for [[x23RecursiveCte]] — every recursion level is
    * a sequential distributed job, so an UNBOUNDED walk is a scale
    * anti-pattern regardless of data size; production BOM/hierarchy
    * queries always cap depth. Interpolated into BOTH engines'
    * SQL. */
  val RecursionDepthCap = 9

  /** Recursive CTE (WITH RECURSIVE, Spark 4.x): hierarchical walk
    * over the implicit binary tree on part keys (children of part p
    * are 2p and 2p+1, pruned by membership in the part table and by
    * [[RecursionDepthCap]]) — the BOM-explosion / org-chart query
    * shape that previously required driver-side iteration
    * (DedupCluster's loop). The recursion is engine-planned; each
    * level is one join stage; per-level counts and key sums are
    * exact integers. */
  def x23RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part_rec")
    // r22 (VERDICT r21 task #5): the former recursive member joined
    // ON p_partkey IN (pk*2, pk*2+1) — a disjunction, so every one of
    // the [[RecursionDepthCap]] engine-planned levels ran a nested-
    // loop join against the full part scan (every part row tested
    // against every frontier row). Exploding the two child slots
    // map-side turns the condition into a single EQUALITY on a
    // computed key, so each level plans a hash join instead — the
    // explode is a Generate in the frontier's own stage, no extra
    // join. Children of distinct parents never collide (2p vs
    // 2p'+c), so the emitted row multiset is unchanged.
    s.sql(
      s"""WITH RECURSIVE tree(pk, depth) AS (
         |  SELECT p_partkey, 0 FROM part_rec WHERE p_partkey = 1
         |  UNION ALL
         |  SELECT /*+ BROADCAST(t) */ p.p_partkey, t.depth + 1
         |  FROM (SELECT explode(array(pk * 2, pk * 2 + 1)) AS child,
         |               depth
         |        FROM tree WHERE depth < $RecursionDepthCap) t
         |  JOIN part_rec p ON p.p_partkey = t.child
         |)
         |SELECT depth, count(*) AS n_parts,
         |  CAST(sum(pk) AS BIGINT) AS sum_keys
         |FROM tree GROUP BY depth""".stripMargin)
  }

  /** Target sample size for [[l11WeightedSample]] — the stride is
    * total_weight div this. Interpolated into the oracle SQL. */
  val WeightedSampleK = 50

  /** Systematic PPS (probability-proportional-to-size) sampling:
    * lay every document's weight (its char count) end-to-end on an
    * integer line, then pick the document under every stride-th
    * tick — each doc selected with probability ∝ its weight, exactly
    * ⌈total/stride⌉ picks, zero randomness (the deterministic
    * systematic design; a production run would add a hashed rotation
    * offset, which changes WHICH docs are picked but not the
    * machinery). The weighted analogue of l7's hash split: heavy
    * docs are training-token mass, and token-budget sampling is
    * PPS, not uniform.
    *
    * All integer arithmetic (cum weights, stride `div`) — both
    * engines agree bit-for-bit; a doc spanning several ticks is
    * emitted once (`<` on the tick index jump).
    *
    * 100 TB shape: the global running weight sum reuses the
    * x20_scalable_rownum two-level discipline — equal-width range
    * buckets on doc_id, per-bucket window sums in parallel, bucket
    * offsets from the constant-size (≤ [[RownumBuckets]]-row)
    * census; the only SinglePartition window in the plan is over
    * that census. The oracle runs the naive global window — the
    * hash compare pins the reformulation's equality. */
  def l11WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val b = RownumBuckets
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val bucketed = docs.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          (col("doc_id") - col("lo")) * b /
            (col("hi") - col("lo") + 1)).cast("long"))
      .select(col("doc_id"), col("w"), col("bucket"))
    val censusWin = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val census = bucketed.groupBy(col("bucket"))
      .agg(sum(col("w")).as("bw"))
      .withColumn("offset",
        coalesce(sum(col("bw")).over(censusWin), lit(0L)))
      .select(col("bucket"), col("offset"))
    val total = bucketed.agg(sum(col("w")).as("tw"))
    val localWin = Window.partitionBy(col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("local_cum", sum(col("w")).over(localWin))
      .join(broadcast(census), "bucket")
      .crossJoin(broadcast(total))
      .withColumn("cum", col("offset") + col("local_cum"))
      .withColumn("stride",
        greatest(expr(s"tw div $WeightedSampleK"), lit(1L)))
      .filter(expr("(cum - w) div stride") < expr("cum div stride"))
      .select(col("doc_id"), col("w"), col("cum"))
  }

  val queries: Map[String, Q] = Map(
    "l11_weighted_sample" -> (l11WeightedSample _),
    "x20_scalable_rownum" -> (x20ScalableRownum _),
    "x21_scalable_ranks" -> (x21ScalableRanks _),
    "x22_lateral_topk" -> (x22LateralTopk _),
    "x23_recursive_cte" -> (x23RecursiveCte _),
    "x2_pivot" -> (x2Pivot _),
    "x3_scalar_subquery" -> (x3ScalarSubquery _),
    "x4_having" -> (x4Having _),
    "x5_string_funcs" -> (x5StringFuncs _),
    "x6_date_funcs" -> (x6DateFuncs _),
    "x7_null_funcs" -> (x7NullFuncs _),
    "x8_percentile" -> (x8Percentile _),
    "x8b_approx_percentile" -> (x8bApproxPercentile _),
    "x8c_sampled_quantiles" -> (x8cSampledQuantiles _),
    "x9_in_subquery" -> (x9InSubquery _),
    "x10_correlated" -> (x10Correlated _),
    "g3_string_agg" -> (g3StringAgg _),
    "x11_regexp" -> (x11Regexp _),
    "x12_outlier_fence" -> (x12OutlierFence _),
    "x12b_approx_fence" -> (x12bApproxFence _),
    "p11_profile" -> (p11Profile _),
    "p11b_profile_approx" -> (p11bProfileApprox _),
    "l3_stratified" -> (l3Stratified _),
    "l12_mixture_sample" -> (l12MixtureSample _),
    "p12_unpivot" -> (p12Unpivot _),
    "x13_array_funcs" -> (x13ArrayFuncs _),
    "g4_grouping_sets" -> (g4GroupingSets _),
    "w4_moving_agg" -> (w4MovingAgg _),
    "w5_topk_group" -> (w5TopkGroup _),
    "x15_posexplode" -> (x15Posexplode _),
    "x16_range_join" -> (x16RangeJoin _),
    "x17_json_extract" -> (x17JsonExtract _),
    "x18_fuzzy_match" -> (x18FuzzyMatch _),
    "x19_histogram" -> (x19Histogram _),
    "a7_arg_extremes" -> (a7ArgExtremes _),
    "u4_except_all" -> (u4ExceptAll _),
    "u5_union_by_name" -> (u5UnionByName _),
    "j8_nullsafe_join" -> (j8NullsafeJoin _),
    "p13_dq_constraints" -> (p13DqConstraints _)
  )

  val oracle: Map[String, String] = Map(
    // naive global running sum — the engine runs the bucketed
    // two-level plan; hash equality pins the reformulation
    "l11_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, greatest(n_chars, 1) AS w
         |           FROM documents),
         |c AS (SELECT doc_id, w,
         |        sum(w) OVER (ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum,
         |        sum(w) OVER () AS tw
         |      FROM d)
         |SELECT doc_id, CAST(w AS BIGINT) AS w,
         |  CAST(cum AS BIGINT) AS cum
         |FROM c
         |WHERE (cum - w) // greatest(tw // $WeightedSampleK, 1)
         |    < cum // greatest(tw // $WeightedSampleK, 1)""".stripMargin,
    // the SEMANTIC definition; the engine runs the bucketed
    // two-level plan — equality is the whole point of the oracle
    "x20_scalable_rownum" ->
      """SELECT doc_id, source,
        | row_number() OVER (ORDER BY doc_id) AS rn
        |FROM documents""".stripMargin,
    "x2_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
        |FROM orders GROUP BY 1""".stripMargin,
    "x3_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >
        |  (SELECT max(o_totalprice) FROM orders) / 2""".stripMargin,
    "x4_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING count(*) > 3""".stripMargin,
    "x5_string_funcs" ->
      """SELECT n_nationkey,
        | upper(n_name) AS up,
        | lower(n_name) AS lo,
        | substr(n_name, 1, 3) AS pre3,
        | concat_ws('-', n_name, n_regionkey) AS joined,
        | replace(n_name, 'a', '@') AS replaced,
        | lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
        | CAST(length(n_name) AS BIGINT) AS name_len
        |FROM nation""".stripMargin,
    "x6_date_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS y,
        | CAST(month(o_orderdate) AS INTEGER) AS m,
        | CAST(day(o_orderdate) AS INTEGER) AS d,
        | CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
        |   AS ym_code
        |FROM orders""".stripMargin,
    "x7_null_funcs" ->
      """WITH lagged AS (
        | SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events)
        |SELECT event_id,
        | coalesce(prev, 0.0) AS prev_or_zero,
        | nullif(value, prev) AS value_if_changed,
        | prev IS NULL AS is_first,
        | value IS NOT DISTINCT FROM prev AS same_as_prev
        |FROM lagged""".stripMargin,
    "x8_percentile" ->
      """SELECT o_orderstatus,
        | quantile_cont(o_totalprice, 0.5) AS median_price,
        | quantile_cont(o_totalprice, 0.9) AS p90_price,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // Discrete quantile at rank ceil(p*n), 1-indexed — exactly what
    // percentile_approx returns while accuracy >= group size. The
    // CAST(p AS DOUBLE) forces DuckDB into IEEE-double multiplication
    // (a bare 0.9 literal is DECIMAL there, whose exact product can
    // land on the other side of ceil() than the JVM's double math).
    "x8b_approx_percentile" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS grp_n
        |  FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * grp_n)
        |                          AS BIGINT)
        |      THEN o_totalprice END) AS median_price,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * grp_n)
        |                          AS BIGINT)
        |      THEN o_totalprice END) AS p90_price,
        |  count(*) AS n
        |FROM r GROUP BY o_orderstatus""".stripMargin,
    "x8c_sampled_quantiles" ->
      s"""WITH s AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE ${graft.core.PortableHash
                    .duckSql("CAST(o_orderkey AS VARCHAR)")}
         |    % $SampleMod = 0),
         |r AS (
         |  SELECT o_orderstatus, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderstatus
         |                       ORDER BY o_totalprice) AS rn,
         |    count(*) OVER (PARTITION BY o_orderstatus) AS grp_n
         |  FROM s)
         |SELECT o_orderstatus,
         |  max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * grp_n)
         |                          AS BIGINT)
         |      THEN o_totalprice END) AS median_est,
         |  max(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * grp_n)
         |                          AS BIGINT)
         |      THEN o_totalprice END) AS p90_est,
         |  count(*) AS m_sample
         |FROM r GROUP BY o_orderstatus""".stripMargin,
    "x9_in_subquery" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin,
    "x10_correlated" ->
      """SELECT c_custkey,
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer""".stripMargin,
    "g3_string_agg" ->
      """SELECT r_name,
        | array_to_string(list_sort(list(DISTINCT n_name)), ',')
        |   AS nations,
        | count(DISTINCT n_name) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "x11_regexp" ->
      """SELECT o_orderkey,
        | regexp_extract(o_orderpriority, '^(\d+)', 1) AS priority_num,
        | regexp_extract(o_orderpriority, '-(\w+)$', 1) AS priority_word
        |FROM orders
        |WHERE o_orderpriority LIKE '%-%'""".stripMargin,
    "x12_outlier_fence" ->
      """WITH q AS (
        |  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |         quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders)
        |SELECT
        |  CAST(sum(CASE WHEN o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
        |                  OR o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_total
        |FROM orders CROSS JOIN q""".stripMargin,
    // Same rank-ceil(p*n) discrete quantile as x8b's oracle.
    "x12b_approx_fence" ->
      """WITH r AS (
        |  SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM orders),
        |q AS (
        |  SELECT
        |    max(CASE WHEN rn = CAST(ceil(CAST(0.25 AS DOUBLE) * n)
        |                            AS BIGINT)
        |        THEN o_totalprice END) AS q1,
        |    max(CASE WHEN rn = CAST(ceil(CAST(0.75 AS DOUBLE) * n)
        |                            AS BIGINT)
        |        THEN o_totalprice END) AS q3
        |  FROM r)
        |SELECT
        |  CAST(sum(CASE WHEN o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
        |                  OR o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_total
        |FROM orders CROSS JOIN q""".stripMargin,
    "p11_profile" ->
      """SELECT 'o_orderstatus' AS "column", count(*) AS n_rows,
        | CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        | count(DISTINCT o_orderstatus) AS n_distinct,
        | min(o_orderstatus) AS min_str, max(o_orderstatus) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        | CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        | count(DISTINCT o_orderpriority),
        | min(o_orderpriority), max(o_orderpriority)
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*),
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        | count(DISTINCT o_custkey),
        | CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |FROM orders""".stripMargin,
    "l3_stratified" ->
      """WITH t AS (SELECT o_orderstatus,
        |  ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
        |    % 1000000 AS h
        | FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_sampled
        |FROM t
        |WHERE (o_orderstatus = 'F' AND h < 500000)
        |   OR (o_orderstatus = 'O' AND h < 100000)
        |   OR o_orderstatus = 'P'
        |GROUP BY o_orderstatus""".stripMargin,
    // every arithmetic step in the threshold is a single correctly-
    // rounded IEEE op on identical inputs, so the integer threshold
    // and the sampled set hash-match bit-exactly (see the Scaladoc)
    "l12_mixture_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_l
         |           FROM documents GROUP BY lang),
         |r AS (SELECT lang, n_l,
         |        CAST(floor(least(1.0,
         |          $MixtureK / sqrt(CAST(n_l AS DOUBLE))) * 1000000.0)
         |          AS BIGINT) AS threshold
         |      FROM c)
         |SELECT d.doc_id, d.lang, r.n_l, r.threshold
         |FROM documents d JOIN r USING (lang)
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
         |  % 1000000 < r.threshold""".stripMargin,
    "p12_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value
        |FROM (
        | SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |        l_quantity AS value FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |        l_extendedprice FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        | FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        | FROM lineitem)""".stripMargin,
    "x13_array_funcs" ->
      """WITH t AS (SELECT o_orderpriority,
        |  list_sort(list(DISTINCT o_orderstatus)) AS statuses
        | FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority,
        | array_to_string(statuses, ',') AS statuses_csv,
        | CAST(len(statuses) AS INTEGER) AS n_statuses,
        | list_contains(statuses, 'F') AS has_f,
        | array_to_string(statuses[1:2], ',') AS first_two_csv
        |FROM t""".stripMargin,
    "g4_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_cents,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "w4_moving_agg" ->
      """WITH t AS (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(cents) OVER w AS BIGINT) AS mov_sum_cents,
        | CAST(count(*) OVER w AS BIGINT) AS mov_n,
        | CAST(sum(cents) OVER w AS BIGINT)
        |   // CAST(count(*) OVER w AS BIGINT) AS mov_avg_cents
        |FROM t
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "w5_topk_group" ->
      """WITH t AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        | FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |        ORDER BY cents DESC, l_orderkey, l_linenumber) AS rn
        |      FROM t)
        |SELECT l_suppkey, l_orderkey, l_linenumber, cents
        |FROM r WHERE rn <= 3""".stripMargin,
    "x16_range_join" ->
      """WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts FROM events),
        |inc AS (SELECT event_id AS incident_id, ts AS t0,
        |         ts + 600000000000 AS t1
        |        FROM ev WHERE event_id % 100 = 0)
        |SELECT incident_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM inc JOIN ev ON ev.ts >= inc.t0 AND ev.ts < inc.t1
        |GROUP BY incident_id""".stripMargin,
    "a7_arg_extremes" ->
      """WITH t AS (SELECT o_orderstatus, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |u AS (SELECT *, (cents << 32) + o_orderkey AS ord FROM t)
        |SELECT o_orderstatus,
        | arg_max(o_orderkey, ord) AS max_order,
        | arg_min(o_orderkey, ord) AS min_order,
        | CAST(max(cents) AS BIGINT) AS max_cents,
        | CAST(min(cents) AS BIGINT) AS min_cents
        |FROM u GROUP BY o_orderstatus""".stripMargin,
    "u4_except_all" ->
      """WITH hi AS (SELECT o_custkey FROM orders
        |            WHERE o_totalprice > 100000.0),
        |recent AS (SELECT o_custkey FROM orders
        |           WHERE year(o_orderdate) >= 1997),
        |rem AS (SELECT * FROM hi EXCEPT ALL SELECT * FROM recent)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_remaining
        |FROM rem GROUP BY o_custkey""".stripMargin,
    // shared SQL-standard LATERAL syntax — DuckDB runs the same text
    "x22_lateral_topk" ->
      """SELECT c.o_custkey, t.o_orderkey, t.cents
        |FROM (SELECT DISTINCT o_custkey FROM orders) c,
        |LATERAL (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o
        |  WHERE o.o_custkey = c.o_custkey
        |  ORDER BY cents DESC, o_orderkey
        |  LIMIT 2
        |) t""".stripMargin,
    "x23_recursive_cte" ->
      s"""WITH RECURSIVE tree(pk, depth) AS (
         |  SELECT p_partkey, 0 FROM part WHERE p_partkey = 1
         |  UNION ALL
         |  SELECT p.p_partkey, t.depth + 1
         |  FROM tree t JOIN part p
         |    ON p.p_partkey IN (t.pk * 2, t.pk * 2 + 1)
         |  WHERE t.depth < $RecursionDepthCap
         |)
         |SELECT depth, count(*) AS n_parts,
         |  CAST(sum(pk) AS BIGINT) AS sum_keys
         |FROM tree GROUP BY depth""".stripMargin,
    // semantic-definition windows; the engine derives all three from
    // the bucketed scalable row number
    "x21_scalable_ranks" ->
      s"""SELECT doc_id,
         | row_number() OVER w AS rn,
         | CAST(ntile($NtileBuckets) OVER w AS BIGINT) AS ntile,
         | percent_rank() OVER w AS percent_rank,
         | cume_dist() OVER w AS cume_dist
         |FROM documents
         |WINDOW w AS (ORDER BY doc_id)""".stripMargin,
    "p13_dq_constraints" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS null_keys,
        | CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |   AS dup_keys,
        | CAST(sum(CASE WHEN o_totalprice < 0.0
        |   OR o_totalprice > 600000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS price_range_viol,
        | CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS status_domain_viol,
        | CAST(sum(CASE WHEN o_orderdate <
        |   TIMESTAMP '1990-01-01 00:00:00' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS date_floor_viol
        |FROM orders""".stripMargin,
    "j8_nullsafe_join" ->
      """WITH f AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |d AS (SELECT * FROM (VALUES ('1-URGENT', 'urgent'),
        |        ('2-HIGH', 'high'), (NULL, 'medium-bucket'))
        |      AS t(k, label))
        |SELECT label, count(*) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f JOIN d ON f.k IS NOT DISTINCT FROM d.k
        |GROUP BY label""".stripMargin,
    "u5_union_by_name" ->
      """WITH u AS (
        | SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  NULL AS o_orderpriority
        | FROM orders WHERE o_orderkey % 2 = 0
        | UNION ALL
        | SELECT o_orderkey, NULL, o_orderpriority
        | FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT count(*) AS n_rows,
        | count(price_cents) AS n_with_price,
        | count(o_orderpriority) AS n_with_priority,
        | CAST(sum(price_cents) AS BIGINT) AS sum_cents
        |FROM u""".stripMargin,
    "x19_histogram" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |             AS cents FROM orders)
        |SELECT least(cents // 5000000, 11) AS bucket,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(min(cents) AS BIGINT) AS min_cents,
        | CAST(max(cents) AS BIGINT) AS max_cents
        |FROM c GROUP BY 1""".stripMargin,
    "x17_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS min_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "x18_fuzzy_match" ->
      """WITH p AS (SELECT unnest(
        |    ['AFRIKA','EUROP','ASIA!','AMERCA','MIDLE EAST']) AS probe),
        |d AS (SELECT probe, r_name,
        |        CAST(levenshtein(probe, r_name) AS INTEGER) AS dist
        |      FROM p CROSS JOIN region),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe
        |        ORDER BY dist, r_name) AS rn FROM d)
        |SELECT probe, r_name, dist FROM r WHERE rn = 1""".stripMargin,
    "x15_posexplode" ->
      """SELECT doc_id,
        | CAST(generate_subscripts(w, 1) - 1 AS INTEGER) AS pos,
        | unnest(w) AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS w
        |      FROM documents)""".stripMargin
  )
}
