package graft.operators

import graft.{SessionState, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Relational analytics substrate: the scan/filter/aggregate/join/window
  * machinery the vector store sits on. Declarative DataFrame plans only —
  * Catalyst handles predicate pushdown, partial aggregation, join strategy.
  *
  * Sums are rounded to 2dp and averages to 4dp in both the Spark plan and
  * the DuckDB oracle to absorb float-summation-order differences.
  */
object Analytics {

  // ---- the user-bucketed events table ---------------------------------
  // Six queries (session_window, sessionize, rolling, asof, funnel,
  // retention) require their input CLUSTERED by user_id; reading the raw
  // parquet makes each of them pay its own full-corpus exchange. The
  // session materializes ONE bucketed copy (Spark `bucketBy(user_id)` via
  // saveAsTable — parquet plus catalog bucket metadata, so the scan
  // reports HashPartitioning(user_id) and EnsureRequirements inserts no
  // shuffle): the user-keyed family pays the events shuffle once per
  // corpus per session instead of once per query. This is the storage
  // answer a 100 TB deployment uses anyway — events live bucketed (or
  // hash-partitioned by a lakehouse layout) by their primary analysis
  // key, and the bucket count tracks 2-3× total cores like the shuffle
  // start. Keyed by (session, corpus): bucket METADATA lives in the
  // session catalog, so a fresh session rebuilds rather than dangle.
  private val userEventsSeq = new java.util.concurrent.atomic.AtomicInteger()

  private def userEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = SessionState.getOrBuild(SessionState.key(
        "userevents", sfDir, Bridge.sessionId(spark))) {
      val name = s"graft_events_user_${userEventsSeq.incrementAndGet()}"
      val dir = java.nio.file.Files
        .createTempDirectory("graft_events_user_").toString
      val buckets = spark.sparkContext.defaultParallelism
      Tables.events(spark, sfDir)
        // one write task per bucket: without the repartition EVERY task
        // writes a file into every bucket (tasks × buckets small files)
        .repartition(buckets, col("user_id"))
        .write.format("parquet")
        .option("path", dir)
        .bucketBy(buckets, "user_id")
        .saveAsTable(name)
      name
    }
    spark.table(tbl)
  }

  /** TPC-H Q1 pattern: scan-heavy filter + 8-way aggregate.
    * Map-side partial aggregation → tiny shuffle (few groups). */
  def q1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3 pattern: customer ⋈ orders ⋈ lineitem, revenue top-10.
    * The segment-filtered customer side is UNHINTED: customer grows with
    * the scale factor (unlike nation/region), so AQE broadcasts it from
    * its measured runtime size while a 100 TB corpus falls back to a
    * shuffle join instead of OOMing the driver. orderBy+limit plans as
    * TakeOrderedAndProject — no global sort. */
  def q3(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") > to_timestamp(lit("1996-01-01")))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q9 pattern (adapted: the driver schema has no partsupp, so
    * profit reduces to discounted revenue): revenue by supplier nation ×
    * order year for a part-name family. nation is constant-size and
    * keeps its broadcast hint; part/supplier grow with the scale factor,
    * so their joins are unhinted and AQE picks broadcast vs shuffle from
    * measured size. lineitem partial-aggregates before its one shuffle
    * to (nation, year) groups. */
  def q9(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
      .where(col("p_name").contains("red"))
      .select(col("p_partkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q18 pattern (large-volume orders): the HAVING subquery is one
    * orderkey-keyed aggregate whose qualifying set (rare big orders) is
    * small — and UNHINTED: its size is a function of the threshold and
    * the data, so AQE broadcasts it back against orders/lineitem from
    * its measured size (the big tables never shuffle for the join) while
    * a pathological threshold cannot OOM the driver. `l_quantity` is
    * integer-valued, so the qualifying sums are exact in any
    * accumulation order. */
  def q18(spark: SparkSession, sfDir: String, threshold: Int = 250): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > threshold)
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    big
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        round(col("total_qty"), 2).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q5 pattern: 6-way star join with region filter. nation and
    * region are constant-size (25 / 5 rows) and keep their broadcast
    * hints; customer and supplier grow with the scale factor, so their
    * joins are unhinted — AQE broadcasts them at bench scale and falls
    * back to shuffle joins when they outgrow the threshold. */
  def q5(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val li = Tables.lineitem(spark, sfDir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp,
        li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Per-group top-k (top-3 orders per customer by price) via the native
    * TopKAgg TypedImperativeAggregate: map-side partial heaps mean the
    * shuffle carries ≤ k rows per group instead of every row — the window
    * formulation (kept below for cross-checking) sorts entire groups. */
  def topKPerGroup(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import graft.functions.TopKAgg.topkAgg
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(topkAgg(-col("o_totalprice"), col("o_orderkey"), k).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(
        col("o_custkey"),
        col("p.id").as("o_orderkey"),
        (-col("p.ord")).as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Window-rank formulation of the same query (reference semantics for
    * specs; one shuffle + full per-group sort). */
  def topKPerGroupWindow(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Event-time tumbling-window aggregation (1 hour) per event_type.
    * Same plan Structured Streaming produces for the streaming variant;
    * group-by keys rendered as epoch seconds for oracle parity. */
  def eventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))

  /** Sessionization via Spark's built-in `session_window` — the idiomatic
    * formulation (one shuffle, sessions merged by the operator itself; also
    * valid unchanged under Structured Streaming). Boundary semantics: an
    * event exactly `gap` after the previous one starts a NEW session
    * (merge while t < last + gap), so the oracle uses `>=` where the
    * lag/cumsum formulation uses `>`. */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    userEvents(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("session_start"),
        col("n_events"), col("sum_value"))

  /** Sessionization: 30-minute-gap sessions per user, batch formulation
    * (lag + cumulative sum over a per-user window → one shuffle on user_id). */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    // order by (ts, event_id): ties on ts would otherwise make the lag —
    // and thus session assignment — nondeterministic across engines
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessioned = userEvents(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // microsecond arithmetic: exact parity with the oracle's epoch_us
        // (second-floored diffs disagree on fractional-second gaps)
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessioned
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("session_start"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** Rolling per-user window frame: moving sum/count of the last 5 events
    * (ROWS frame — deterministic row membership via the (ts, event_id)
    * tiebreak, unlike a RANGE frame on a float). One shuffle keyed by
    * user_id; frames never cross users, so state per task is the frame
    * width. Safe for 2-dp rounding parity: `value` carries 2-dp decimals,
    * so frame sums land on 2-dp decimals and never sit on a rounding
    * boundary. */
  def eventsRolling(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    userEvents(spark, sfDir)
      .select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(sum(col("value")).over(w), 2).as("roll_sum"),
        count(lit(1)).over(w).as("n_window"))
  }

  /** Semi-structured props: filter + aggregate on a JSON attribute of the
    * event payload (`events.props` is a JSON string — the schema-on-read
    * path). `get_json_object` runs inside the scan stage, so the predicate
    * prunes rows before the shuffle; the parquet scan reads only the
    * columns used (props, event_type, value). */
  /** As-of join: every `click` event picks up the same user's most recent
    * `purchase` at-or-before it (p.ts <= c.ts; ties on ts, then event_id,
    * resolve to the LARGEST — the most recent purchase wins).
    *
    * Spark has no native as-of join, and the probe-join formulation
    * (clicks ⋈ purchases ON user + ts-range, then keep the max) explodes
    * to O(clicks × purchases) rows per user before pruning. The scalable
    * shape is union + running `last(_, ignoreNulls)`: both event streams
    * shuffle ONCE on user_id, sort (ts, kind, event_id) with purchases
    * before clicks at equal ts so a simultaneous purchase is visible, and
    * the running frame folds incrementally — shuffle volume is the input
    * row count, per-task state is one frame, skew is bounded by natural
    * per-user volume. The oracle replays the semantics with an explicit
    * join + QUALIFY argmax (DuckDB's native ASOF JOIN leaves equal-key
    * ties unspecified, so the oracle pins them instead). */
  def eventsAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isPurchase, 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    userEvents(spark, sfDir)
      .where(col("event_type").isin("purchase", "click"))
      .select(
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(isPurchase, col("event_id")).as("pe"),
        when(isPurchase, unix_micros(col("ts"))).as("pt"),
        when(isPurchase, col("value")).as("pv"))
      .withColumn("p_event_id", last(col("pe"), ignoreNulls = true).over(w))
      .withColumn("p_ts_us", last(col("pt"), ignoreNulls = true).over(w))
      .withColumn("p_value0", last(col("pv"), ignoreNulls = true).over(w))
      .where(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"),
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("p_event_id"), col("p_ts_us"),
        round(col("p_value0"), 2).as("p_value"),
        (unix_micros(col("ts")) - col("p_ts_us")).as("gap_us"))
  }

  /** Ordered funnel conversion over the event stream: view → click →
    * purchase, each step required to happen STRICTLY AFTER the previous
    * step's first qualifying event in the per-user (ts, event_id) order.
    *
    * The step qualifications are running sums over strictly-preceding
    * rows (`rowsBetween(unboundedPreceding, -1)`), chained: a click
    * qualifies when a view precedes it; a purchase qualifies when a
    * QUALIFIED click precedes it. Counting presence among preceding rows
    * (not comparing timestamps) makes simultaneous-timestamp ties follow
    * the same deterministic (ts, event_id) order the oracle replays.
    *
    * Scale shape: ONE shuffle by user_id; the two chained Window stages
    * share its partitioning and sort (no second exchange — Catalyst keeps
    * required distribution satisfied), the per-user flag rollup reuses it
    * again, and the final 1-row rollup is a map-side-partial aggregate. */
  def eventsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = userEvents(spark, sfDir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .withColumn("is_view", when(col("event_type") === "view", 1L).otherwise(0L))
      .withColumn("qual_click",
        when(col("event_type") === "click" &&
          coalesce(sum(col("is_view")).over(order), lit(0L)) > 0, 1L)
          .otherwise(0L))
      .withColumn("qual_purchase",
        when(col("event_type") === "purchase" &&
          coalesce(sum(col("qual_click")).over(order), lit(0L)) > 0, 1L)
          .otherwise(0L))
    val perUser = staged.groupBy(col("user_id")).agg(
      max(col("is_view")).as("s1"),
      max(col("qual_click")).as("s2"),
      max(col("qual_purchase")).as("s3"))
    // rates guard the empty step: Spark's x/0 yields NULL where DuckDB's
    // IEEE division yields inf/nan — the explicit when(>0) (NULLIF in the
    // oracle) makes both engines agree on a degenerate empty-funnel corpus
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(col("s1")).as("n_view"),
      sum(col("s2")).as("n_click_after_view"),
      sum(col("s3")).as("n_purchase_after_click"),
      when(sum(col("s1")) > 0,
        TextAnalysis.round4(sum(col("s2")) / sum(col("s1"))))
        .as("view_to_click"),
      when(sum(col("s2")) > 0,
        TextAnalysis.round4(sum(col("s3")) / sum(col("s2"))))
        .as("click_to_purchase"))
  }

  /** Weekly cohort retention: cohort = a user's first active week (weeks
    * are `epoch_day div 7` — pure integer arithmetic, engine-independent),
    * retention cell = distinct users of cohort `c` active `age` weeks
    * later.
    *
    * Scale shape: ONE user-keyed shuffle — `collect_set(week)` partial-
    * aggregates map-side (per-user state is bounded by the number of
    * DISTINCT WEEKS, not events), cohort = `array_min` of the set, and
    * the exploded (cohort, age) rows are already one-per-(user, week) so
    * the cell counts are a plain second (tiny) aggregate. This replaces
    * the distinct → min → self-join formulation, which paid three
    * shuffles of the activity set. */
  def eventsRetention(spark: SparkSession, sfDir: String): DataFrame =
    userEvents(spark, sfDir)
      .select(col("user_id"),
        expr("(unix_micros(ts) div 86400000000) div 7").as("week"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("week")).as("weeks"))
      .select(col("user_id"), array_min(col("weeks")).as("cohort_week"),
        explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("age_weeks"))

  /** Per-type z-score outliers over the event stream — the monitoring
    * stage of an event pipeline (fraud/telemetry spikes). The test
    * |v − μ| > z·σ_pop is evaluated EXACTLY: values quantize to cents,
    * and the comparison squares both sides —
    * (n·v − Σv)² > z²·(n·Σv² − (Σv)²) — so it is pure integer/decimal
    * arithmetic with no sqrt, no division, and no float-order
    * sensitivity (the headroom is decimal(38), good far past the bench
    * scales).
    *
    * Scale shape: one map-side-partial aggregate to the per-type stats
    * (5 rows), broadcast back onto the scan — the events never shuffle. */
  def eventsAnomaly(spark: SparkSession, sfDir: String, z: Int = 3): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        expr("cast(floor(value * 100 + 0.5) as long)").as("vc"))
    // every product AND every sum forms IN decimal(38,0) — a Long product
    // like vc·vc would wrap silently (Spark non-ANSI) long before any
    // outer cast could widen it, and a plain Long sum(vc) wraps the same
    // way at extreme row counts (the oracle accumulates both in HUGEINT)
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(expr("cast(vc as decimal(38,0))")).as("sv"),
      sum(expr("cast(vc as decimal(38,0)) * vc")).as("svv"))
    ev.join(broadcast(stats), "event_type")
      .where(expr(
        s"""(cast(n as decimal(38,0)) * vc - sv) * (cast(n as decimal(38,0)) * vc - sv)
           | > ${z * z} * (cast(n as decimal(38,0)) * svv
           |               - cast(sv as decimal(38,0)) * sv)""".stripMargin))
      .select(col("event_id"), col("event_type"), col("value"))
  }

  /** Per-type latency-style percentiles (p50/p95/p99) via Spark's EXACT
    * `percentile` aggregate — rank-based linear interpolation, the same
    * DEFINITION as DuckDB's `quantile_cont`. The two engines compute the
    * interpolation in algebraically-equal-but-not-bit-identical IEEE
    * forms (lo+(hi-lo)·g vs the fused form), so a raw value landing
    * exactly on a 1e-4 rounding boundary could still diverge; `value`
    * carries 2-dp decimals here, which keeps the interpolation inputs
    * exact on both engines and off the boundary in practice (residual
    * risk documented, not eliminated). Exact percentile sorts per group;
    * the SLA contract here is exact numbers over full history — callers
    * wanting sketch-sized state at stream scale compose
    * `approx_percentile` instead (same plan shape, mergeable state, no
    * oracle). */
  def eventsQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("qs"))
      .select(col("event_type"),
        TextAnalysis.round4(col("qs")(0)).as("p50"),
        TextAnalysis.round4(col("qs")(1)).as("p95"),
        TextAnalysis.round4(col("qs")(2)).as("p99"))
      .orderBy(col("event_type"))

  def eventsPropsJson(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast("int"))
      .where(col("k") >= 50)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // explicit-floor 4dp form: avg is an unconstrained rational, so
        // round() carries the Spark-BigDecimal vs DuckDB-binary-double
        // half-boundary parity risk text_quality hit
        TextAnalysis.round4(avg(col("k"))).as("avg_k"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
}
