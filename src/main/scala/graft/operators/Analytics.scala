package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Artifacts, Tables}

/** Headline analytical queries over the testdata star schema — the bench
  * workload. These exercise the aggregate/join/window machinery the
  * reference delegates to Redshift (SURVEY.md §2.4, §2.7 absences filled
  * as [EXT]).
  *
  * Determinism for the DuckDB oracle: money/quantity doubles are summed as
  * exact DECIMAL then cast to double — both engines produce bit-identical
  * results regardless of partial-aggregation order. Plain double sums would
  * be order-dependent and hash-unstable.
  *
  * Scale notes:
  *  - groupBy aggregates are partial (map-side combine) + final: only one
  *    row per (partition, group) crosses the shuffle.
  *  - tiny bounded dims (nation/region) carry broadcast hints; customer
  *    is left to Catalyst+AQE (fact-sized at 100x, a forced hint would
  *    OOM executors at scale). Fact-fact joins shuffle on the join key
  *    and benefit from AQE skew handling.
  *  - window ranks partition by a high-cardinality key (custkey) so state
  *    per partition stays small.
  */
object Analytics {

  /** Exact decimal sum of a 2-dp money/qty double, surfaced as double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** TPC-H Q1-style pricing summary over lineitem: multi-aggregate groupBy
    * with derived expressions, all shuffle-safe exact arithmetic. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: six decimal partial aggregates per row (see statsCorr)
    val li = Tables.fanOut(Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax"))
    val price = col("l_extendedprice").cast(DecimalType(18, 2))
    val disc  = col("l_discount").cast(DecimalType(4, 2))
    val tax   = col("l_tax").cast(DecimalType(4, 2))
    val one   = lit(1).cast(DecimalType(4, 2))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** Orders x customer join + groupBy market segment: AQE-chosen join
    * strategy (broadcast at this sf, shuffled at scale), partial agg,
    * exact revenue. */
  def revenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** 3-hop dim chain customer→nation→region + aggregate: the TPC-H Q5
    * shape. nation/region broadcast (bounded); customer join AQE-chosen. */
  def revenueByRegion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** Fact-fact join lineitem⋈orders + group by order status. At scale both
    * sides shuffle on the key; AQE coalesces/splits post-shuffle partitions. */
  def lineitemOrderJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("total_price"))
  }

  /** Window function: top order per customer by totalprice (row_number with
    * full tie-break for determinism), then keep rank-1 rows. */
  def topOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** X6 — hourly time-window aggregate over events (batch use of the
    * streaming window shape). date_trunc == tumbling-window start. */
  def hourlyEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))

  /** ROLLING DISTINCT USERS (DAU / WAU / stickiness) — the canonical
    * sliding-window COUNT DISTINCT problem: distinct does not decompose
    * over windows (yesterday's WAU can't be updated, only recomputed), so
    * the scale-correct shape is CONTRIBUTION EXPLODE: each (user, active
    * day) pair — already deduplicated, so the explode input is bounded by
    * users × days, not events — contributes to the 7 window-days it
    * participates in, and one (window_day, user)-keyed distinct
    * aggregation answers every day's WAU in a single pass. Fanout is the
    * window length (7×), a constant — versus the 7 full recomputations of
    * the naive per-day approach, or the unbounded state of a
    * sliding-window stream distinct. Window days outside the observed
    * range are clipped via a broadcast 1-row bounds aggregate (no driver
    * action). Stickiness = DAU/WAU, the product-analytics ratio this
    * table exists to serve. */
  def rollingDau(spark: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    // only the upper clip is needed: window days never precede the
    // contributing activity day
    val bounds = ud.agg(max(col("day")).as("d_max"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"),
          col("day") + expr(s"INTERVAL ${windowDays - 1} DAY"),
          expr("INTERVAL 1 DAY"))).as("wday"))
      .crossJoin(broadcast(bounds))
      .filter(col("wday") <= col("d_max"))
      .select(col("user_id"), col("wday").as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** DuckDB oracle for [[rollingDau]] — same contribution explode, same
    * clipping, same ratio. */
  def rollingDauOracleSql(windowDays: Int = 7): String =
    s"""WITH ud AS (SELECT DISTINCT user_id,
                           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
                    FROM events),
       b AS (SELECT max(day) AS d_max FROM ud),
       dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
       contrib AS (
         SELECT DISTINCT user_id,
                unnest(generate_series(day, day + INTERVAL ${windowDays - 1} DAY,
                                       INTERVAL 1 DAY)) AS day
         FROM ud),
       wau AS (SELECT day, count(*) AS wau
               FROM contrib CROSS JOIN b WHERE day <= d_max GROUP BY day)
       SELECT dau.day, dau.dau, wau.wau,
              round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
       FROM dau JOIN wau ON dau.day = wau.day
       ORDER BY dau.day"""

  /** CALENDAR GAP-FILL + LOCF — the time-series resampling step every
    * metrics/feature pipeline runs before modeling: per-user daily event
    * aggregates densified over each user's [first_day, last_day] span
    * (missing days appear as explicit zero rows) and a last-observation-
    * carried-forward column over the densified axis. Without the fill,
    * window features silently skip gap days; with it, gaps are visible
    * and imputable.
    *
    * Scale shape: the daily aggregate is one partial-aggregated shuffle;
    * the calendar derives from the per-user SPAN table (users-sized, not
    * events-sized) via `sequence()` + explode — fanout is days-per-user,
    * bounded by the observation window at any corpus size; the LEFT join
    * back and the LOCF window both reuse user_id partitioning. The LOCF
    * is a running `last(_, ignoreNulls)` frame — per-row O(1) state, no
    * self-join. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast(DecimalType(18, 2))).as("v_obs"))
    val cal = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .withColumn("carried_value",
        last(col("v_obs"), ignoreNulls = true).over(w).cast("double"))
      .select(col("user_id"), col("day"),
        col("v_obs").isNull.as("is_gap"),
        coalesce(col("n_obs"), lit(0L)).as("n_events"),
        coalesce(col("v_obs").cast("double"), lit(0d)).as("total_value"),
        col("carried_value"))
  }

  /** DuckDB oracle for [[gapFill]] — same daily aggregate, same
    * generate_series densification, same IGNORE NULLS running carry. */
  val gapFillOracleSql: String =
    """WITH daily AS (
         SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_obs,
                sum(CAST(value AS DECIMAL(18,2))) AS v_obs
         FROM events GROUP BY user_id, date_trunc('day', ts)),
       cal AS (
         SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY user_id) s)
       SELECT c.user_id, c.day,
              d.v_obs IS NULL AS is_gap,
              coalesce(d.n_obs, 0) AS n_events,
              coalesce(CAST(d.v_obs AS DOUBLE), 0) AS total_value,
              CAST(last_value(d.v_obs IGNORE NULLS) OVER (
                     PARTITION BY c.user_id ORDER BY c.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS carried_value
       FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
       ORDER BY c.user_id, c.day"""

  /** X6's gap-session sibling via the NATIVE `session_window` aggregate —
    * the built-in batch twin of [[graft.streaming.StreamingOps
    * .sessionizeEndToEnd]]'s custom flatMapGroupsWithState state machine:
    * Spark merges overlapping [ts, ts+gap) intervals per group into
    * sessions inside a single aggregation (no self-join, no window-
    * function global sort; state is per (user, open session) exactly like
    * the streaming version). Batch semantics differ from the streaming
    * operator on two points the oracle encodes: ALL sessions emit (no
    * watermark holds back each user's last open session), and a new
    * session starts at gap ≥ the threshold (interval ends are exclusive)
    * where the custom operator breaks strictly after it. */
  def sessionWindowAgg(spark: SparkSession, dir: String,
                       gapMinutes: Int = 30): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** DuckDB oracle for [[sessionWindowAgg]], generated from the same gap:
    * classic lag/cumsum sessionization with the ≥ break and end = last
    * event + gap (exclusive interval end), all sessions kept. */
  def sessionWindowAggOracleSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
                        CAST(value AS DECIMAL(18,2)) AS value FROM events),
       g AS (SELECT user_id, us, value,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $gapUs
                    THEN 1 ELSE 0 END AS brk
             FROM e),
       s AS (SELECT user_id, us, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
             FROM g)
       SELECT user_id, min(us) AS session_start_us,
              max(us) + $gapUs AS session_end_us,
              count(*) AS n_events,
              CAST(sum(value) AS DOUBLE) AS total_value
       FROM s GROUP BY user_id, sid
       ORDER BY user_id, session_start_us"""
  }

  /** Skew-safe two-phase aggregate: events counted per event_type via an
    * explicit salt. event_type has a handful of values, so a naive
    * groupBy sends each type's entire volume to ONE reducer — the classic
    * skew hotspot at 100 TB. Phase 1 aggregates (type, salt) across 32
    * salts (uniform fan-out), phase 2 merges the 32 partials per type.
    * Same result as the naive plan; the oracle checks it against a plain
    * GROUP BY. (AQE skew-join handles join skew; aggregate skew needs
    * this shape.) */
  def eventsByTypeSalted(spark: SparkSession, dir: String, salts: Int = 32): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        (col("event_id") % salts).as("salt"))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pc"),
        sum(col("value").cast(DecimalType(18, 2))).as("pv"))
      .groupBy("event_type")
      .agg(sum(col("pc")).as("n_events"),
        sum(col("pv")).cast("double").as("total_value"))

  /** MANUAL SALT-REPLICATE JOIN — the explicit skew-join pattern for when
    * a single hot key dominates a shuffle join, the small side is too big
    * (or too hot) to broadcast, and AQE's post-shuffle split can't help
    * (it splits partitions, not one key's hash bucket): the big side gets
    * a deterministic salt (event_id % salts — never rand(), which would
    * break retry/replay determinism), the dim side is replicated ×salts,
    * and the join runs on (key, salt) so each hot key's rows spread over
    * `salts` reducers. The result must be EXACTLY the plain join's — the
    * oracle checks the unsalted aggregate. Replication cost is
    * salts × |dim|, paid only for the keys in the replicated slice at
    * scale (salt only the measured-hot keys; here the whole dim is small
    * enough to demonstrate the full pattern). */
  def saltedUserJoin(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"),
        col("value").cast(DecimalType(18, 2)).as("value"),
        (col("event_id") % salts).as("salt"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .crossJoin(spark.range(salts).select(col("id").as("salt")))
    e.join(c, e("user_id") === c("c_custkey") && e("salt") === c("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("double").as("total_value"))
  }

  val saltedUserJoinOracleSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Hierarchical totals via ROLLUP (region → nation → grand total) —
    * partial-aggregated like any groupBy; grouping-set expansion happens
    * map-side. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select("r_name", "n_name", "o_totalprice")
      .createOrReplaceTempView("rollup_base")
    // SQL surface for the grouping-set expansion: the Dataset rollup API
    // trips Spark 4's ambiguous-self-join detector on attributes carrying
    // the joined datasets' lineage tags; GROUP BY ROLLUP over a view
    // resolves by name and produces the identical plan.
    spark.sql(
      """SELECT r_name, n_name, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM rollup_base
        |GROUP BY ROLLUP (r_name, n_name)
        |""".stripMargin)
  }

  /** Exact distinct count (oracle-checkable companion of X5). */
  def exactDistinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("n_parts"))

  /** X5 — approx_count_distinct (HLL++): the 100 TB-scale heir of R5/D1.
    * Sketch values differ across engines, so the sketch itself can't be
    * hash-compared; instead the query is self-verifying (VERDICT r1 item
    * 9): it emits the exact distinct counts plus booleans asserting the
    * HLL++ estimate landed within 5% relative error — the oracle checks
    * the exact counts and `TRUE` verdicts. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.abs
    // NO fanOut here (r16, measured): round-robin spreading before the
    // exact arm regressed 2.06 → 3.86 s — the partial-dedup aggregate
    // below the countDistinct exchange dedups far better when each value's
    // duplicates sit in one scan task, so the spread traded a serial-but-
    // effective partial agg for a parallel one that shuffles ~2× the rows.
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_orderkey")
    // The exact and approx counts MUST be separate aggregations: combining
    // countDistinct with approx_count_distinct in one agg makes Catalyst's
    // distinct-rewrite expand the input and carry the ~12 KB HLL++ sketch
    // buffer in EVERY per-value dedup group — at sf0.1 that is an ~18 GB
    // aggregation map (measured: 140+ s of spill/GC for a 600 k-row scan).
    // Split, each agg is its natural shape: exact = expand + long buffers,
    // approx = one group with 2 sketches; the 1-row results cross-join.
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("n_parts_exact"),
      countDistinct(col("l_orderkey")).as("n_orders_exact"))
    val approx = li.agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
    exact.crossJoin(approx)
      .select(col("n_parts_exact"), col("n_orders_exact"),
        (abs(col("ap") - col("n_parts_exact")).cast("double") / col("n_parts_exact") <= 0.05).as("parts_ok"),
        (abs(col("ao") - col("n_orders_exact")).cast("double") / col("n_orders_exact") <= 0.05).as("orders_ok"))
  }

  /** X5's percentile twin — value-distribution profiling per event type:
    * exact linearly-interpolated p50/p90/p99 (the oracle-checkable arm;
    * DuckDB's quantile_cont uses the same rank = p·(n−1) interpolation)
    * next to `percentile_approx` (GK sketch) with a relative-error
    * verdict. The exact `percentile` aggregate buffers the whole group —
    * fine for a per-key profile at testdata scale and as the oracle, but
    * the SKETCH is the 100 TB arm: bounded memory per group, mergeable
    * partials, one pass — same exact/approx split (and the same reason)
    * as [[approxDistinct]]. Approx tolerance is on the VALUE scale: the
    * sketch guarantees rank error ≤ 1/accuracy, so the p50 estimate is
    * some true quantile in p50±1e-4 — bounded here by the p40..p60 value
    * band, a loose deterministic envelope. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.abs
    val e = Tables.events(spark, dir).select("event_type", "value")
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"),
        percentile(col("value"), lit(0.4)).as("p40"),
        percentile(col("value"), lit(0.6)).as("p60"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap50"))
      .select(col("event_type"), col("n"), col("p50"), col("p90"), col("p99"),
        (col("ap50") >= col("p40") - abs(col("p40")) * 0.01 &&
          col("ap50") <= col("p60") + abs(col("p60")) * 0.01).as("approx_ok"))
  }

  /** DuckDB oracle for [[valuePercentiles]]: quantile_cont + TRUE
    * verdicts (the sketch value itself is engine-specific). */
  val valuePercentilesOracleSql: String =
    """SELECT event_type, count(*) AS n,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90,
              round(quantile_cont(value, 0.99), 6) AS p99,
              TRUE AS approx_ok
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** PIVOT — revenue by region crosstabbed over order status: groupBy +
    * `pivot` with EXPLICIT pivot values (with an inferred value list the
    * operator needs an extra distinct pass AND the output schema depends
    * on data — both wrong at 100 TB; the explicit list keeps it one
    * partial-aggregated pass with a fixed schema). DECIMAL-exact sums
    * surfaced as double. */
  def revenuePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
      .groupBy("r_name")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("price")).cast("double"))
      .select(col("r_name"), col("F").as("rev_f"), col("O").as("rev_o"),
        col("P").as("rev_p"))

  /** UNPIVOT (melt) — the inverse relational reshape: the pivoted
    * per-region crosstab back to long (r_name, status, revenue) rows via
    * `stack`, dropping the NULL cells PIVOT manufactured for absent
    * combinations. Round-tripping [[revenuePivot]] through unpivot must
    * land exactly on the plain GROUP BY — which is what the oracle
    * checks. stack() is a generator expression (one pass, no shuffle of
    * its own; the only exchange is the pivot's). */
  def revenueUnpivot(spark: SparkSession, dir: String): DataFrame =
    revenuePivot(spark, dir)
      .select(col("r_name"),
        expr("stack(3, 'F', rev_f, 'O', rev_o, 'P', rev_p)")
          .as(Seq("o_orderstatus", "revenue")))
      .filter(col("revenue").isNotNull)

  /** DuckDB oracle for [[revenueUnpivot]]: the plain long-form GROUP BY
    * the pivot→unpivot round trip must reproduce. */
  val revenueUnpivotOracleSql: String =
    """SELECT r_name, o_orderstatus,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE o_orderstatus IN ('F', 'O', 'P')
       GROUP BY r_name, o_orderstatus
       ORDER BY r_name, o_orderstatus"""

  /** DuckDB oracle for [[revenuePivot]] as conditional aggregation (the
    * dialect-portable PIVOT form). */
  val revenuePivotOracleSql: String =
    """SELECT r_name,
              CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
              CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
              CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name"""

  /** LEFT SEMI join — "customers having at least one open order": the
    * EXISTS shape. Semi joins never duplicate or widen the left side, so
    * the probe side streams through with only the key set shuffled (or
    * broadcast) — the right way to express existence filters at scale
    * (an inner join + distinct recomputes and re-dedups the whole left
    * projection). */
  def customersWithOpenOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")

  val customersWithOpenOrdersOracleSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
       ORDER BY c_custkey"""

  /** Trailing-hour per-user rolling aggregate — the RANGE-frame window
    * class (event-TIME frame, not row-count): for each event, the count
    * and exact DECIMAL sum of the same user's events in the preceding
    * hour. The frame bound is epoch-micros arithmetic so both engines
    * agree to the microsecond; ties at the same micro all join the frame
    * (RANGE semantics, identical in both engines).
    *
    * Scale shape: partitioned by user_id — one hash shuffle, each user's
    * timeline sorts and scans independently (WindowExec keeps a sliding
    * frame, O(events/user)); no global sort, no driver involvement. The
    * streaming twin of this shape is [[graft.streaming.StreamingOps
    * .hourlyCounts]]'s watermarked window state. */
  def rollingUserValue(spark: SparkSession, dir: String,
                       windowHours: Int = 1): DataFrame = {
    val frameUs = windowHours * 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-frameUs, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("value").cast("decimal(18,2)").as("v"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_events_trailing"),
        sum(col("v")).over(w).cast("double").as("sum_value_trailing"))
  }

  /** DuckDB oracle for [[rollingUserValue]], generated from the same
    * frame width. */
  /** Cohort RETENTION over the event stream — the classic product-
    * analytics crosstab: users are cohorted by their first-active day,
    * and each (cohort, day_k) cell counts distinct users active k days
    * after their cohort day. Two shuffles, both on high-cardinality
    * partitionable keys: the per-user min-day aggregate (map-side
    * combined to one row per user), then the two-phase distinct count
    * keyed by (cohort, day_k, user) — no window over the whole stream,
    * no driver-side state, so the shape holds at 100 TB of events. All
    * date arithmetic is UTC day truncation, identical in both engines. */
  def userRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = e.groupBy("user_id").agg(min("d").as("cohort"))
    e.join(first, "user_id")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).cast("long").as("day_k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** DuckDB oracle for [[userRetention]] (date subtraction yields days as
    * BIGINT, matching the operator's cast). */
  def userRetentionOracleSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
       f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id)
       SELECT cohort, CAST(e.d - f.cohort AS BIGINT) AS day_k,
              count(DISTINCT e.user_id) AS n_users
       FROM e JOIN f USING (user_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  def rollingUserValueOracleSql(windowHours: Int = 1): String = {
    val frameUs = windowHours * 3600L * 1000000L
    s"""SELECT event_id, user_id,
              count(*) OVER w AS n_events_trailing,
              CAST(sum(v) OVER w AS DOUBLE) AS sum_value_trailing
       FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
                    CAST(value AS DECIMAL(18,2)) AS v FROM events) e
       WINDOW w AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN $frameUs PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""
  }

  /** Per-user event-SEQUENCE assembly — the feature-building shape for
    * sequence models (next-event prediction, session embeddings): each
    * user's events ordered by (time, event_id) collapse to one row with
    * the first/last event type and the first `maxLen` steps joined into a
    * path string. One shuffle on user_id; collect_list gathers inside the
    * aggregate (bounded by the slice immediately after — at 100 TB add a
    * pre-truncating window only if single users exceed memory, which a
    * per-user cap upstream normally guarantees). Sort key includes
    * event_id so ties at one timestamp order identically in both engines. */
  def eventSequences(spark: SparkSession, dir: String,
                     maxLen: Int = 10): DataFrame = {
    val seq = array_sort(collect_list(struct(col("us"), col("event_id"), col("event_type"))))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        transform(seq, s => s.getField("event_type")).as("path"))
      .select(col("user_id"), col("n_events"),
        element_at(col("path"), 1).as("first_event"),
        element_at(col("path"), -1).as("last_event"),
        concat_ws(">", slice(col("path"), 1, maxLen)).as(s"path$maxLen"))
  }

  def eventSequencesOracleSql(maxLen: Int = 10): String =
    s"""SELECT user_id, count(*) AS n_events,
               (list(event_type ORDER BY us, event_id))[1] AS first_event,
               (list(event_type ORDER BY us, event_id))[-1] AS last_event,
               array_to_string(list(event_type ORDER BY us, event_id)[1:$maxLen], '>')
                 AS path$maxLen
        FROM (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type
              FROM events) e
        GROUP BY user_id ORDER BY user_id"""

  /** Day-of-week × hour activity heatmap over the event stream — the
    * calendar-profile crosstab. Day-of-week comes from EPOCH ARITHMETIC
    * ((epoch_days + 4) mod 7, 1970-01-01 being a Thursday=4) rather than
    * the engines' dow() functions, whose weekday numbering conventions
    * differ (Spark 1=Sunday, DuckDB 0=Sunday); hour extraction agrees
    * under the session's pinned UTC. One partial-aggregated groupBy over
    * a 7×24-key space. */
  def dowHourProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(((floor(unix_micros(col("ts")) / 86400000000L) + 4) % 7).as("dow"),
        hour(col("ts")).as("hr"),
        col("value"))
      .groupBy("dow", "hr")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))

  val dowHourProfileOracleSql: String =
    """SELECT (CAST(floor((epoch_ns(ts) // 1000) / 86400000000) AS BIGINT) + 4) % 7 AS dow,
              CAST(hour(ts) AS BIGINT) AS hr,
              count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY dow, hr"""

  /** Fixed-width histogram of the event value distribution per type —
    * bucket = floor(value / width): one narrow projection + one partial-
    * aggregated groupBy, the constant-memory alternative to exact
    * percentiles when the profile only needs shape. Bucket arithmetic is
    * pure double floor on identical inputs — deterministic in both
    * engines. */
  def valueHistogram(spark: SparkSession, dir: String,
                     width: Int = 20): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") / width).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("bucket_value"))

  def valueHistogramOracleSql(width: Int = 20): String =
    s"""SELECT event_type, CAST(floor(value / $width) AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_value
        FROM events GROUP BY 1, 2 ORDER BY event_type, bucket"""

  /** Semi-structured extraction — `events.props` is a JSON string column
    * (the universal "everything else" column of real event pipelines).
    * `from_json` with a DECLARED schema parses it once into a struct
    * inside whole-stage codegen — no schema inference pass (inference
    * reads the whole corpus twice and makes the output schema
    * data-dependent; both wrong at 100 TB). Aggregate over the extracted
    * field; exact integer sums, avg derived from them. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"))
  }

  /** DuckDB oracle for [[jsonProps]]: the fixed `{"k": N}` shape makes a
    * regexp pull dialect-portable (no JSON extension dependency); NULLIF
    * guards a hypothetical non-matching row the same way from_json yields
    * NULL on malformed input. */
  val jsonPropsOracleSql: String =
    """SELECT event_type, count(*) AS n_events,
              count(k) AS n_with_k,
              CAST(sum(k) AS BIGINT) AS sum_k,
              round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
       FROM (SELECT event_type,
                    CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k
             FROM events) t
       GROUP BY event_type ORDER BY event_type"""

  /** FULL OUTER join — the one join shape the rest of the suite doesn't
    * exercise: per-customer order revenue stitched to per-user event
    * activity, keeping customers with no events AND event users with no
    * orders (NULL-padded sides). Both inputs pre-aggregate to one row per
    * key BEFORE the join, so the full-outer shuffle moves one row per
    * entity, not per fact — the scale-correct order of operations. */
  def fullOuterActivity(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("cust_id"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("order_rev"))
    val e = Tables.events(spark, dir)
      .groupBy(col("user_id").as("cust_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("event_value"))
    o.join(e, Seq("cust_id"), "full_outer")
  }

  val fullOuterActivityOracleSql: String =
    """SELECT cust_id, n_orders, order_rev, n_events, event_value
       FROM (SELECT o_custkey AS cust_id, count(*) AS n_orders,
                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_rev
             FROM orders GROUP BY 1) o
       FULL JOIN (SELECT user_id AS cust_id, count(*) AS n_events,
                         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS event_value
                  FROM events GROUP BY 1) e
       USING (cust_id)
       ORDER BY cust_id"""

  /** Set operators in one tagged result: users who clicked INTERSECT users
    * who errored ('both'), EXCEPT ('click_only'), stitched with UNION ALL.
    * INTERSECT/EXCEPT plan as hash-aggregated semi/anti joins over the
    * distinct key sets — each side reduces to its key set map-side before
    * anything shuffles. */
  def setOpsUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String) =
      e.filter(col("event_type") === t).select("user_id").distinct()
    val click = users("click")
    val error = users("error")
    click.intersect(error).select(lit("both").as("tag"), col("user_id"))
      .unionByName(
        click.except(error).select(lit("click_only").as("tag"), col("user_id")))
  }

  val setOpsUsersOracleSql: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
            x AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
       SELECT 'both' AS tag, user_id FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM x) t
       UNION ALL
       SELECT 'click_only' AS tag, user_id FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM x) t
       ORDER BY tag, user_id"""

  /** GROUPING SETS — the general form ROLLUP/CUBE specialize: revenue by
    * region, by market segment, and the grand total in ONE pass (three
    * independent GROUP BYs would scan the fact table three times; the
    * grouping-set expansion replicates rows map-side into each set's
    * partial aggregate). The disjoint NULL patterns of the three sets
    * disambiguate rows without a grouping_id column. */
  def revenueGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select("r_name", "c_mktsegment", "o_totalprice")
      .createOrReplaceTempView("gsets_base")
    // SQL surface for the same reason as revenueRollup: the Dataset API's
    // grouping-set path trips Spark 4's self-join lineage check here.
    spark.sql(
      """SELECT r_name, c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM gsets_base
        |GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        |""".stripMargin)
  }

  /** CUBE — all four grouping combinations of (region, order status) in
    * one Expand pass; completes the grouping-variant family next to
    * [[revenueRollup]] and [[revenueGroupingSets]]. Status values are
    * never NULL in the data, so the NULL patterns disambiguate levels. */
  def revenueCube(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_orderstatus", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select("r_name", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("cube_base")
    spark.sql(
      """SELECT r_name, o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM cube_base
        |GROUP BY CUBE (r_name, o_orderstatus)
        |""".stripMargin)
  }

  val revenueCubeOracleSql: String =
    """SELECT r_name, o_orderstatus, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY CUBE (r_name, o_orderstatus)
       ORDER BY r_name NULLS FIRST, o_orderstatus NULLS FIRST"""

  val revenueGroupingSetsOracleSql: String =
    """SELECT r_name, c_mktsegment, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
       ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST"""

  /** Inter-event gap analysis — lag() over each user's timeline: per-user
    * event count, mean and max gap in MICROSECONDS (epoch-micros
    * arithmetic so both engines agree exactly; ties broken by event_id).
    * Partitioned by user_id like [[rollingUserValue]]: one hash shuffle,
    * per-user sort, no global order. A user's first event has no gap
    * (lag = NULL) — n_gaps counts the rest; single-event users yield NULL
    * mean/max in both engines. */
  def eventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("gap_us")).as("n_gaps"),
        // floor of the double quotient, not round(x, 6): gaps are ~1e10 µs
        // and decimal rounding there (×10⁶ > 2⁵³) diverges between engines
        // in the last digit; floor of the identical correctly-rounded
        // quotient is exact in both.
        floor(sum(col("gap_us")).cast("double") / count(col("gap_us"))).as("avg_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
  }

  val eventGapsOracleSql: String =
    """WITH g AS (
         SELECT user_id, event_id, us,
                us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
         FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events) e)
       SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
              CAST(floor(CAST(sum(gap_us) AS DOUBLE) / count(gap_us)) AS BIGINT) AS avg_gap_us,
              CAST(max(gap_us) AS BIGINT) AS max_gap_us
       FROM g GROUP BY user_id ORDER BY user_id"""

  /** Bivariate statistics per group — correlation and sample covariance of
    * quantity vs price, computed FROM EXACT DECIMAL MOMENT SUMS (n, Σx,
    * Σy, Σx², Σy², Σxy) rather than the engines' streaming corr/covar
    * aggregates: Welford-style merge order differs run to run and engine
    * to engine in the low bits, but decimal sums are exact, so the final
    * double arithmetic — written with the identical operation order in
    * both engines — is bit-reproducible. The moment sums are one
    * map-side-combined pass; this is also the shape that scales (six
    * numbers per group cross the shuffle). */
  def statsCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 2))
    val y = col("l_extendedprice").cast(DecimalType(18, 2))
    // fanOut: five decimal-multiply partial sums per row over the
    // single-row-group scan — plain sums, so the spread costs nothing at
    // the exchange (3 groups) and parallelizes the decimal arithmetic
    Tables.fanOut(Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), x.as("x"), y.as("y")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("corr_qty_price"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - 1)), 6)
          .as("covar_samp"))
  }

  val statsCorrOracleSql: String =
    """WITH m AS (
         SELECT l_returnflag, count(*) AS n,
                sum(x) AS sx, sum(y) AS sy,
                sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         FROM (SELECT l_returnflag,
                      CAST(l_quantity AS DECIMAL(18,2)) AS x,
                      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
               FROM lineitem) t
         GROUP BY l_returnflag)
       SELECT l_returnflag, n,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                AS corr_qty_price,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 6)
                AS covar_samp
       FROM m ORDER BY l_returnflag"""

  /** Revenue-decile segmentation WITHOUT a global window: ntile() needs a
    * total order (one reducer sorts everything — the classic scale trap),
    * so deciles are assigned by the two-phase shape that holds at 100 TB:
    * (1) one tiny agg computes the 9 interpolated decile cuts of
    * per-customer revenue (rounded to 4 dp: revenue is 2-dp exact, so the
    * margin dwarfs any sub-ulp interpolation divergence between engines),
    * (2) the cut ARRAY broadcasts and each customer's decile = 1 + #cuts
    * strictly below its revenue — a narrow, shuffle-free assignment pass.
    * Output is the per-decile profile; revenue re-summed as exact decimal. */
  def revenueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(dsum(col("o_totalprice")).as("rev"))
    val cuts = perCust.agg(
      transform(percentile(col("rev"), lit((1 to 9).map(_ / 10.0).toArray)),
        c => round(c, 4)).as("cuts"))
    perCust.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("rev"),
        (lit(1L) + aggregate(col("cuts"), lit(0L),
          (acc, c) => acc + when(col("rev") > c, 1L).otherwise(0L))).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev").cast(DecimalType(18, 2))).cast("double").as("total_rev"))
  }

  val revenueDecilesOracleSql: String =
    """WITH pc AS (SELECT o_custkey,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
                   FROM orders GROUP BY 1),
         cuts AS (SELECT [round(quantile_cont(rev, 0.1), 4), round(quantile_cont(rev, 0.2), 4),
                          round(quantile_cont(rev, 0.3), 4), round(quantile_cont(rev, 0.4), 4),
                          round(quantile_cont(rev, 0.5), 4), round(quantile_cont(rev, 0.6), 4),
                          round(quantile_cont(rev, 0.7), 4), round(quantile_cont(rev, 0.8), 4),
                          round(quantile_cont(rev, 0.9), 4)] AS cs
                  FROM pc)
       SELECT decile, count(*) AS n_customers,
              CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
       FROM (SELECT o_custkey, rev,
                    1 + len(list_filter(cs, c -> rev > c)) AS decile
             FROM pc CROSS JOIN cuts) t
       GROUP BY decile ORDER BY decile"""

  /** RFM SEGMENTATION — the classic customer-scoring workload: per-user
    * Recency (days since last event, anchored to the corpus max so the
    * run is reproducible), Frequency (event count) and Monetary (exact
    * decimal value mass), each quintile-scored 1–5 and mapped to the
    * usual segments (champion / new / at-risk / regular). Scoring uses
    * the [[revenueDeciles]] percentile-CUT pattern — exact interpolated
    * quintile cuts computed once, broadcast, and compared per row with a
    * fold — never an ntile() global window: the users-sized aggregate
    * sorts nowhere, and the three metric scores come from ONE broadcast
    * row. Recency counts cuts ABOVE the value (recent = high score);
    * frequency/monetary count cuts below. Day arithmetic is integer
    * micros division, identical in both engines. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(18, 2))).as("mon"))
    val anchor = perUser.agg(max(col("last_ts")).as("t_max"))
    val base = perUser.crossJoin(broadcast(anchor))
      .select(col("user_id"),
        expr("(unix_micros(t_max) - unix_micros(last_ts)) div 86400000000")
          .as("rec_days"),
        col("freq"), col("mon").cast("double").as("mon"))
    val qs = lit((1 to 4).map(_ / 5.0).toArray)
    val cuts = base.agg(
      transform(percentile(col("rec_days"), qs), c => round(c, 4)).as("rc"),
      transform(percentile(col("freq"), qs), c => round(c, 4)).as("fc"),
      transform(percentile(col("mon"), qs), c => round(c, 4)).as("mc"))
    val scored = base.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("mon"),
        (lit(1L) + aggregate(col("rc"), lit(0L),
          (acc, c) => acc + when(col("rec_days") < c, 1L).otherwise(0L))).as("r"),
        (lit(1L) + aggregate(col("fc"), lit(0L),
          (acc, c) => acc + when(col("freq") > c, 1L).otherwise(0L))).as("f"),
        (lit(1L) + aggregate(col("mc"), lit(0L),
          (acc, c) => acc + when(col("mon") > c, 1L).otherwise(0L))).as("m"))
    scored
      .withColumn("segment",
        when(col("r") >= 4 && col("f") >= 4 && col("m") >= 4, "champion")
          .when(col("r") >= 4 && col("f") <= 2, "new")
          .when(col("r") <= 2 && col("f") >= 4, "at_risk")
          .otherwise("regular"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        sum(col("mon").cast(DecimalType(18, 2))).cast("double").as("monetary"))
  }

  /** DuckDB oracle for [[rfmSegments]] — same anchored day arithmetic,
    * same rounded quintile cuts, same fold directions and segment map. */
  val rfmSegmentsOracleSql: String = {
    def cutList(c: String) = s"[round(quantile_cont($c, 0.2), 4), round(quantile_cont($c, 0.4), 4), " +
      s"round(quantile_cont($c, 0.6), 4), round(quantile_cont($c, 0.8), 4)]"
    s"""WITH pu AS (SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
                          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS mon
                   FROM events GROUP BY user_id),
       base AS (SELECT user_id,
                       (epoch_us((SELECT max(last_ts) FROM pu)) - epoch_us(last_ts))
                         // 86400000000 AS rec_days,
                       freq, mon
                FROM pu),
       cuts AS (SELECT ${cutList("rec_days")} AS rc, ${cutList("freq")} AS fc,
                       ${cutList("mon")} AS mc
                FROM base),
       scored AS (SELECT user_id, mon,
                         1 + len(list_filter(rc, c -> rec_days < c)) AS r,
                         1 + len(list_filter(fc, c -> freq > c)) AS f,
                         1 + len(list_filter(mc, c -> mon > c)) AS m
                  FROM base CROSS JOIN cuts)
       SELECT CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
                   WHEN r >= 4 AND f <= 2 THEN 'new'
                   WHEN r <= 2 AND f >= 4 THEN 'at_risk'
                   ELSE 'regular' END AS segment,
              count(*) AS n_users,
              CAST(sum(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) AS monetary
       FROM scored GROUP BY 1 ORDER BY 1"""
  }

  /** Per-customer top-3 order prices via the custom TYPED AGGREGATOR
    * ([[graft.functions.TopKDoubles]]) — the bounded-state top-k that
    * map-side combines (k values per partition-group cross the shuffle)
    * instead of window-sorting each group. The oracle reproduces the
    * same three descending values with a windowed conditional aggregate;
    * output flattens the list to scalar columns (NULL when a customer
    * has fewer orders), keeping the dump hash-comparable. */
  def topPricesPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(spark, 3)
    Tables.orders(spark, dir)
      .select("o_custkey", "o_totalprice")
      .groupBy("o_custkey")
      .agg(expr("top_k_3(o_totalprice)").as("top"))
      .select(col("o_custkey"),
        element_at(col("top"), 1).as("p1"),
        when(size(col("top")) >= 2, element_at(col("top"), 2)).as("p2"),
        when(size(col("top")) >= 3, element_at(col("top"), 3)).as("p3"))
  }

  val topPricesPerCustomerOracleSql: String =
    """SELECT o_custkey,
              max(CASE WHEN rn = 1 THEN o_totalprice END) AS p1,
              max(CASE WHEN rn = 2 THEN o_totalprice END) AS p2,
              max(CASE WHEN rn = 3 THEN o_totalprice END) AS p3
       FROM (SELECT o_custkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC) AS rn
             FROM orders) t
       WHERE rn <= 3
       GROUP BY o_custkey ORDER BY o_custkey"""

  /** Supply-side dimension profile — the last testdata table (supplier)
    * through the same dim-chain shape as the customer-side rollups:
    * suppliers per region/nation with exact-decimal balance statistics
    * and the negative-balance (at-risk) count. Bounded dims broadcast;
    * one partial-aggregated groupBy. */
  def supplierProfile(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        dsum(col("s_acctbal")).as("total_balance"),
        sum(when(col("s_acctbal") < 0, 1L).otherwise(0L)).as("n_negative"))
  }

  val supplierProfileOracleSql: String =
    """SELECT r_name, n_name, count(*) AS n_suppliers,
              CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
              CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
       FROM supplier
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** INCREMENTAL VIEW MAINTENANCE — the at-scale answer to "refresh the
    * daily revenue rollup": merge yesterday's aggregate STATE with
    * today's delta instead of recomputing over the whole fact history.
    * Here the top decile of the o_orderkey range stands in for today's
    * batch (the [[graft.operators.Dedup.nearDupNewVsCorpus]] split
    * convention); both halves aggregate independently (in production the
    * base state is a persisted table, not a recompute) and the MERGE is
    * a re-aggregation of the partial states — valid because count and
    * exact-decimal sum are associative monoids, the same algebra Spark's
    * own partial aggregation relies on. The oracle is the full recompute:
    * merge == recompute is the correctness contract of the pattern. */
  def incrementalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    // max() is NULL on an empty fact table; split 0 then routes every
    // (zero) row to the delta side and the merge is the empty aggregate —
    // the same answer the full recompute gives.
    val maxRow = o.agg(max(col("o_orderkey"))).head()
    val split = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 9 / 10
    def slice(pred: Column) = o.filter(pred)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    val base = slice(col("o_orderkey") < split)
    val delta = slice(col("o_orderkey") >= split)
    base.unionAll(delta)
      .groupBy("o_orderstatus")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("revenue").cast(DecimalType(18, 2))).cast("double").as("revenue"))
  }

  /** DuckDB oracle for [[incrementalRevenue]]: the FULL recompute — the
    * merged partial states must equal it exactly. */
  val incrementalRevenueOracleSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Five-table star join — the full dimension chain region→nation→
    * customer→orders→lineitem with a selective fact-side predicate (the
    * TPC-H Q5 family shape at full depth). What the plan must do at
    * 100 TB: push the line-status filter into the lineitem scan, join
    * fact-to-fact (lineitem⋈orders) as a shuffled hash join on the key,
    * broadcast the bounded dims (nation/region hinted; customer left to
    * AQE's measured-size decision), and let Catalyst ORDER the joins so
    * the selective filter shrinks the pipeline before any wide join.
    * Everything here is declarative — the reorder, pushdown, and
    * strategy picks are the optimizer's job, which is exactly the
    * point. */
  def starJoinRevenue(spark: SparkSession, dir: String,
                      lineStatus: String = "F"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_linestatus") === lineStatus)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    val price = col("l_extendedprice").cast(DecimalType(18, 2))
    val disc = col("l_discount").cast(DecimalType(4, 2))
    val one = lit(1).cast(DecimalType(4, 2))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_lines"),
        sum(price * (one - disc)).cast("double").as("revenue"))
  }

  def starJoinRevenueOracleSql(lineStatus: String = "F"): String =
    s"""SELECT r_name, n_name, count(*) AS n_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE l_linestatus = '$lineStatus'
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** Ordered conversion FUNNEL over the event stream (view → click →
    * purchase): a user reaches a stage only via an event AT OR AFTER their
    * first reach of the previous stage — the order-sensitive definition
    * (a purchase before any view does not convert), which a plain
    * per-type distinct-user count gets wrong. Shape: three stage
    * aggregates chained by equi-joins on user_id; every one of the six
    * operators hashes on the SAME key, so after the first shuffle the
    * exchanges are reused (co-partitioned joins) — per-user state is one
    * timestamp, never the event list. Output is one row per stage with
    * the surviving-user count and the step conversion rate. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    def stageRow(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    val rows = stageRow(v, "1_view")
      .unionAll(stageRow(c, "2_click_after_view"))
      .unionAll(stageRow(p, "3_purchase_after_click"))
    // step rate = n_users / previous stage's n_users (rate of the funnel
    // entry stage is 1.0) — lag over the 3-row stage frame is driver-cheap.
    // An empty previous stage yields NULL, not 0/0: Spark's non-ANSI
    // divide returns NULL there while DuckDB's IEEE mode returns NaN, so
    // the guard keeps both engines on the same value.
    val w = Window.orderBy("stage")
    val denom = coalesce(lag(col("n_users"), 1).over(w), col("n_users"))
    rows.withColumn("rate_vs_prev",
      when(denom === 0, lit(null).cast("double"))
        .otherwise(round(col("n_users").cast("double") / denom.cast("double"), 6)))
  }

  val funnelConversionOracleSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts >= v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
               GROUP BY e.user_id),
         s AS (SELECT '1_view' AS stage, count(*) AS n_users FROM v
               UNION ALL SELECT '2_click_after_view', count(*) FROM c
               UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
       SELECT stage, n_users,
              CASE WHEN coalesce(lag(n_users) OVER (ORDER BY stage), n_users) = 0
                   THEN NULL
                   ELSE round(CAST(n_users AS DOUBLE)
                        / CAST(coalesce(lag(n_users) OVER (ORDER BY stage), n_users) AS DOUBLE), 6)
              END AS rate_vs_prev
       FROM s ORDER BY stage"""

  /** SCD-2 (slowly-changing-dimension) history build: collapse each
    * customer's order-status timeline into versioned validity intervals —
    * a new version opens whenever the status DIFFERS from the previous
    * order's (lag), `valid_to` = the next version's `valid_from` (lead;
    * NULL = current). The warehouse-standard dimension-history shape the
    * reference's monthly snapshot rebuild cannot express. Both windows
    * partition by o_custkey — ONE hash shuffle + per-user sort, no global
    * order; ties at one date break by o_orderkey so both engines pick the
    * same change rows. The open (current) interval carries the
    * warehouse-standard 9999-12-31 high date rather than NULL — range
    * predicates (`BETWEEN valid_from AND valid_to`) then need no NULL arm,
    * and the dump stays free of nullable timestamps (pandas NaT compares
    * unequal to itself, like NaN). */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val changed = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
    val wv = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed
      .withColumn("version", row_number().over(wv))
      .withColumn("valid_to",
        coalesce(lead(col("o_orderdate"), 1).over(wv),
          lit("9999-12-31 00:00:00").cast("timestamp_ntz")))
      .select(col("o_custkey"), col("version"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        (col("valid_to") === lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
          .as("is_current"))
  }

  val scd2HistoryOracleSql: String =
    """WITH chg AS (
         SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
         FROM (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                      lag(o_orderstatus) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS prev_status
               FROM orders) t
         WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
       SELECT o_custkey,
              CAST(row_number() OVER w AS INTEGER) AS version,
              o_orderstatus, o_orderdate AS valid_from,
              coalesce(lead(o_orderdate) OVER w, TIMESTAMP '9999-12-31 00:00:00')
                AS valid_to,
              coalesce(lead(o_orderdate) OVER w, TIMESTAMP '9999-12-31 00:00:00')
                = TIMESTAMP '9999-12-31 00:00:00' AS is_current
       FROM chg
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, version"""

  /** The ranking/distribution window-function suite in one per-customer
    * pass: ntile quartile, percent_rank, cume_dist, lag/lead neighbors,
    * and the partition's first value. All six functions share ONE window
    * spec (partition by o_custkey — high-cardinality, so state per
    * partition is a handful of rows; never a global ORDER BY), which
    * Catalyst evaluates in a single Window operator after a single hash
    * shuffle + per-partition sort. The order key carries the o_orderkey
    * tie-break so rank-derived values are identical in both engines;
    * percent_rank/cume_dist are exact rationals of partition counts,
    * rounded at 6 dp only to absorb engine-formatting of the division. */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        lag(col("o_totalprice"), 1).over(w).as("pricier_neighbor"),
        lead(col("o_totalprice"), 1).over(w).as("cheaper_neighbor"),
        first(col("o_totalprice")).over(w).as("top_price"))
  }

  val windowSuiteOracleSql: String =
    """SELECT o_custkey, o_orderkey,
              CAST(ntile(4) OVER w AS INTEGER) AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume,
              lag(o_totalprice) OVER w AS pricier_neighbor,
              lead(o_totalprice) OVER w AS cheaper_neighbor,
              first_value(o_totalprice) OVER w AS top_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
       ORDER BY o_custkey, o_orderkey"""

  /** Purchase ATTRIBUTION via a day-BINNED interval join: for each
    * purchase event, the count/value of the same user's `view` events in
    * the preceding `windowHours`. The naive plan is a θ-join
    * (`v.ts BETWEEN p.ts - 24h AND p.ts`) — Spark executes non-equi joins
    * as BroadcastNestedLoopJoin or a per-key cartesian, O(views×purchases)
    * per user; at 100 TB that is the join that never finishes. The
    * scale shape BINS time: a view at time s can only attribute to
    * purchases in [s, s+24h], i.e. purchases whose epoch-DAY is day(s) or
    * day(s)+1 — so each view emits exactly 2 (user, day) bin rows, the
    * join becomes a hash EQUI-join on (user_id, day), and the exact
    * interval predicate filters the ≤2× residue after the join. Work is
    * linear in events + true matches, shuffle keys are (user, day) —
    * time-skew (hot days) spreads across users and AQE splits the rest.
    * Epoch-microsecond arithmetic end-to-end (both engines agree
    * exactly); purchases with no qualifying view are kept via the
    * left join with zero counts. */
  def purchaseAttribution(spark: SparkSession, dir: String,
                          windowHours: Int = 24): DataFrame = {
    val winUs = windowHours * 3600L * 1000000L
    val dayUs = 86400000000L
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
      .withColumn("day", floor(col("p_us") / dayUs))
    // a view at time s attributes to purchases in [s, s+window], whose
    // epoch-days span day(s) .. day(s) + ceil(window/day) — the bin
    // fan-out must follow the window parameter (a hardcoded 2-bin explode
    // silently drops matches for windows over 24 h)
    val nBins = (winUs + dayUs - 1) / dayUs
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("v_us"),
        col("value").cast(DecimalType(18, 2)).as("v_value"))
      .withColumn("day", explode(array((0L to nBins).map(o =>
        floor(col("v_us") / dayUs) + o): _*)))
    p.join(v, Seq("user_id", "day"), "left")
      .withColumn("hit", col("v_us").isNotNull &&
        col("v_us") >= col("p_us") - winUs && col("v_us") <= col("p_us"))
      .groupBy("event_id", "user_id")
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_views"),
        coalesce(sum(when(col("hit"), col("v_value"))), lit(0).cast(DecimalType(18, 2)))
          .cast("double").as("view_value"))
  }

  def purchaseAttributionOracleSql(windowHours: Int = 24): String = {
    val winUs = windowHours * 3600L * 1000000L
    s"""WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS p_us
                   FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, epoch_ns(ts) // 1000 AS v_us,
                      CAST(value AS DECIMAL(18,2)) AS v_value
               FROM events WHERE event_type = 'view')
       SELECT p.event_id, p.user_id,
              CAST(coalesce(sum(CASE WHEN v.v_us IS NOT NULL THEN 1 END), 0) AS BIGINT)
                AS n_views,
              CAST(coalesce(sum(v.v_value), 0) AS DOUBLE) AS view_value
       FROM p LEFT JOIN v
         ON p.user_id = v.user_id
        AND v.v_us BETWEEN p.p_us - $winUs AND p.p_us
       GROUP BY p.event_id, p.user_id
       ORDER BY p.event_id"""
  }

  // ---------------------------------------------------------------------
  // Column-level data profiling
  // ---------------------------------------------------------------------

  /** COLUMN PROFILE — the ingest-time data-quality audit (ANALYZE-style):
    * per-column row/null/exact-distinct counts over `documents` in ONE
    * scan. Drift in these numbers between ingest batches (a lang column
    * suddenly 40% NULL, doc_id cardinality < row count) is the first
    * alarm a 100 TB pipeline raises.
    *
    * Scale shape: one pass — each row melts into (col_name, value-digest)
    * pairs (k× row-count narrow rows, never the row width), then a SINGLE
    * distinct-on-digest aggregate per column: Catalyst plans the lone
    * distinct as two partial-agged groupBys ((col, digest) then col) — no
    * Expand, no per-column rescan. Digesting values to md5 means the
    * shuffle carries 32-byte keys even for document-sized text, and the
    * same digest makes exact-distinct reproducible in the oracle. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    Tables.documents(spark, dir)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), md5(col(c).cast("string")).as("h"))): _*)).as("kv"))
      .select(col("kv.col_name"), col("kv.h"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("h").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("h")).as("n_distinct"))
  }

  /** DuckDB oracle for [[columnProfile]] — same melt, same digests. */
  val columnProfileOracleSql: String = {
    val arms = Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c => s"SELECT '$c' AS col_name, md5(CAST($c AS VARCHAR)) AS h FROM documents")
      .mkString(" UNION ALL ")
    s"""WITH m AS ($arms)
       SELECT col_name, count(*) AS n_rows,
              CAST(sum(CASE WHEN h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
              count(DISTINCT h) AS n_distinct
       FROM m GROUP BY col_name ORDER BY col_name"""
  }

  /** PERSISTED HLL SKETCH STORE — incremental distinct maintenance, the
    * fourth staged artifact family (signatures, pairs, decontam verdicts,
    * now sketches): per-day DataSketches HLL sketches of the active user
    * set are built in ONE scan and persisted as a metadata-sized parquet
    * store (one binary row per day — ∝ days, never corpus size). The
    * "distinct users ever" question is then answered by merging the
    * stored sketches (`hll_union_agg`) WITHOUT rescanning the corpus; a
    * new day appends one sketch row instead of triggering the nightly
    * full recount. At 100 TB this turns an O(corpus) distinct query into
    * an O(days) metadata merge.
    *
    * HLL registers are max-merged, so the union of disjoint daily
    * sketches is EXACTLY the sketch of the whole table (same lgK, same
    * hash) — `merged_equals_direct` pins that algebraic identity, not an
    * approximation. `within_5pct` pins estimate quality against the exact
    * count the oracle recomputes. */
  def hllSketchStore(spark: SparkSession, dir: String): DataFrame = {
    val store = Artifacts.scratch(dir) + "/hll_user_store"
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite").parquet(store)
    val merged = spark.read.parquet(store)
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_merged"),
        sum(col("n_events")).as("n_events"))
    val direct = Tables.events(spark, dir)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
        countDistinct(col("user_id")).as("distinct_exact"))
    merged.crossJoin(direct) // both sides are 1-row aggregates
      .select(col("n_days"), col("n_events"), col("distinct_exact"),
        (col("est_merged") === col("est_direct")).as("merged_equals_direct"),
        (abs(col("est_merged") - col("distinct_exact"))
          <= col("distinct_exact") * 0.05).as("within_5pct"))
  }

  val hllSketchStoreOracleSql: String =
    """SELECT count(DISTINCT date_trunc('day', ts)) AS n_days,
              count(*) AS n_events,
              count(DISTINCT user_id) AS distinct_exact,
              true AS merged_equals_direct,
              true AS within_5pct
       FROM events"""

  /** DISTRIBUTION-DRIFT detection (PSI) between two corpus slices — the
    * monitoring query every continuously-ingesting pipeline runs before
    * trusting a new batch: per event_type, the `value` distribution of
    * the even-id half (baseline) is compared against the odd-id half
    * (current) over fixed-width bins via the Population Stability Index
    * Σ (p−q)·ln(p/q) with add-one smoothing (so empty bins stay finite
    * and the arithmetic is exact-integer until the final log). One scan,
    * one (type, half, bin) count aggregate, then a bins-sized reshape —
    * the data-sized work is a single partial-agged groupBy at any scale.
    * Counts are exact integers in both engines; the PSI double is rounded
    * to 6 dp for cross-engine hash stability. */
  def distributionDrift(spark: SparkSession, dir: String,
                        binWidth: Int = 50, nBins: Int = 10): DataFrame = {
    // ONE corpus scan: the conditional-sum groupBy lands directly on the
    // (type, bin) grain; totals re-aggregate the bins-sized result, never
    // the events again
    val perHalf = Tables.events(spark, dir)
      .select(col("event_type"), (col("event_id") % 2 === 0).as("is_base"),
        least(floor(col("value") / binWidth).cast("long"), lit(nBins - 1L)).as("bin"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur"))
    val totals = perHalf.groupBy("event_type")
      .agg(sum(col("n_base")).as("t_base"), sum(col("n_cur")).as("t_cur"))
    val p = (col("n_base") + 1).cast("double") / (col("t_base") + nBins)
    val q = (col("n_cur") + 1).cast("double") / (col("t_cur") + nBins)
    perHalf.join(totals, "event_type")
      .select(col("event_type"), ((p - q) * log(p / q)).as("term"),
        col("t_base"), col("t_cur"))
      .groupBy("event_type")
      .agg(round(sum(col("term")), 6).as("psi"),
        max(col("t_base")).as("n_base"), max(col("t_cur")).as("n_cur"))
      .withColumn("drifted", col("psi") >= 0.2)
  }

  def distributionDriftOracleSql(binWidth: Int = 50, nBins: Int = 10): String =
    s"""WITH binned AS (
          SELECT event_type, event_id % 2 = 0 AS is_base,
                 least(CAST(floor(value / $binWidth) AS BIGINT), ${nBins - 1}) AS bin
          FROM events),
        per_half AS (
          SELECT event_type, bin,
                 CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                 CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM binned GROUP BY event_type, bin),
        totals AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS t_base,
                 CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS t_cur
          FROM binned GROUP BY event_type)
        SELECT event_type, round(sum(term), 6) AS psi,
               max(t_base) AS n_base, max(t_cur) AS n_cur,
               round(sum(term), 6) >= 0.2 AS drifted
        FROM (
          SELECT h.event_type,
                 (CAST(n_base + 1 AS DOUBLE) / (t_base + $nBins)
                  - CAST(n_cur + 1 AS DOUBLE) / (t_cur + $nBins))
                 * ln((CAST(n_base + 1 AS DOUBLE) / (t_base + $nBins))
                      / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + $nBins))) AS term,
                 t_base, t_cur
          FROM per_half h JOIN totals t ON h.event_type = t.event_type) terms
        GROUP BY event_type ORDER BY event_type"""

  /** SKETCHED SET INTERSECTION — audience-overlap estimation between
    * every event-type pair via HLL inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), with the union taken by
    * register-max merge (`hll_union`) of the per-type sketches. This is
    * the sketch-store answer to "how many users do segments A and B
    * share" — at 100 TB the exact self-join recomputes from the corpus,
    * while the sketch path merges two kilobyte-sized summaries per pair
    * (the [[hllSketchStore]] pattern extended from union to
    * intersection). The EXACT overlap (user-keyed self-join of the
    * distinct (type, user) projection — shuffle on user_id, never
    * all-pairs on users) is the oracle-checked arm; the estimate carries
    * a 5 % relative-error verdict, deterministic because HLL register
    * state is insertion-order-independent.
    *
    * Ordering note: the Jaccard is computed from the exact arms in the
    * identical expression order in both engines and rounded to 6 dp. */
  def sketchIntersection(spark: SparkSession, dir: String): DataFrame = {
    val tu = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sk = tu.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("nd")) // tu is distinct => count == countDistinct
    val pairs = sk.select(col("event_type").as("ta"), col("sk").as("ska"),
        col("nd").as("na"))
      .join(sk.select(col("event_type").as("tb"), col("sk").as("skb"),
        col("nd").as("nb")), col("ta") < col("tb"))
    val exact = tu.select(col("event_type").as("ta"), col("user_id"))
      .join(tu.select(col("event_type").as("tb"), col("user_id")), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_common"))
    pairs.join(exact, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"), col("na"), col("nb"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("n_common"), lit(0L))), 6)
          .as("jaccard"),
        (abs(hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
          - hll_sketch_estimate(hll_union(col("ska"), col("skb")))
          - coalesce(col("n_common"), lit(0L)))
          <= greatest(coalesce(col("n_common"), lit(0L)), lit(1L))
             .cast("double") * 0.05).as("est_ok"))
  }

  /** DuckDB oracle for [[sketchIntersection]] — the exact arms; the
    * sketch verdict is pinned `true` (deterministic, register-merge
    * based, and asserted against the exact overlap in-engine). */
  val sketchIntersectionOracleSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
       nd AS (SELECT event_type, count(*) AS nd FROM tu GROUP BY event_type),
       pr AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_common
              FROM tu a JOIN tu b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
              GROUP BY 1, 2)
       SELECT x.event_type AS ta, y.event_type AS tb,
              x.nd AS na, y.nd AS nb,
              coalesce(pr.n_common, 0) AS n_common,
              round(CAST(coalesce(pr.n_common, 0) AS DOUBLE)
                    / (x.nd + y.nd - coalesce(pr.n_common, 0)), 6) AS jaccard,
              true AS est_ok
       FROM nd x JOIN nd y ON x.event_type < y.event_type
       LEFT JOIN pr ON pr.ta = x.event_type AND pr.tb = y.event_type
       ORDER BY ta, tb"""

  // ---------------------------------------------------------------------
  // Event-type Markov transition matrix
  // ---------------------------------------------------------------------

  /** EVENT TRANSITION MATRIX — the first-order Markov profile of user
    * behavior: for every consecutive event pair within a user's timeline,
    * count cur→next transitions and normalize per row to transition
    * probabilities. This is the sequence-model summary behind journey
    * analysis, anomaly scoring (improbable transitions), and synthetic-
    * session generation. Ordering is (ts, event_id) so simultaneous
    * events break ties deterministically in both engines.
    *
    * Scale shape: ONE shuffle on user_id for the lead() window (users are
    * high-cardinality, so the partitioning is even), then a tiny
    * types×types aggregate; the row-normalizing sum is a window over the
    * output-sized matrix, not the corpus. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("cur_type")), 6))
  }

  /** DuckDB oracle for [[eventTransitions]] — same lead() ordering, same
    * row normalization. */
  val eventTransitionsOracleSql: String =
    """WITH s AS (SELECT event_type AS cur_type,
                         lead(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS next_type
                  FROM events),
       c AS (SELECT cur_type, next_type, count(*) AS n
             FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
       SELECT cur_type, next_type, n,
              round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur_type), 6) AS p
       FROM c ORDER BY cur_type, next_type"""
}
