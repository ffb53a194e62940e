package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Analytics

/** Percentile profiling: ordering invariants and the sketch-vs-exact
  * verdict (the oracle checks the exact values bit-for-bit). */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("rolling trailing-hour aggregate matches a brute-force self-join recomputation") {
    val got = Analytics.rollingUserValue(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("value").cast("decimal(18,2)").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
    val byUser = evs.groupBy(_._2)
    val expected = evs.map { case (id, uid, us, _) =>
      val frame = byUser(uid).filter(e => e._3 >= us - 3600000000L && e._3 <= us)
      val sum = frame.map(_._4.asInstanceOf[java.math.BigDecimal])
        .reduce(_.add(_)).doubleValue()
      id -> (frame.length.toLong, sum)
    }.toMap
    assert(got.size == expected.size)
    expected.foreach { case (id, (n, s)) =>
      assert(got(id)._1 == n, s"event $id frame count")
      assert(math.abs(got(id)._2 - s) < 1e-6, s"event $id frame sum")
    }
  }

  test("semi join: one row per qualifying customer, plan uses LeftSemi") {
    val out = Analytics.customersWithOpenOrders(spark, sf)
    assert(out.count() == out.select("c_custkey").distinct().count())
    assert(out.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
  }

  test("pivot: one row per region, pivoted sums re-add to the region total") {
    val p = Analytics.revenuePivot(spark, sf)
    val regions = Tables.region(spark, sf).count()
    assert(p.count() == regions)
    // F+O+P re-aggregates to the plain region revenue
    val total = p.select(
      sum(coalesce(col("rev_f"), lit(0.0)) + coalesce(col("rev_o"), lit(0.0))
        + coalesce(col("rev_p"), lit(0.0))).as("t")).head().getDouble(0)
    val want = Analytics.revenueByRegion(spark, sf)
      .agg(sum("revenue")).head().getDouble(0)
    assert(math.abs(total - want) < 1e-4)
  }

  test("value percentiles: one row per type, monotone p50<=p90<=p99, approx inside envelope") {
    val p = Analytics.valuePercentiles(spark, sf)
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(p.count() == nTypes)
    assert(p.filter(col("p50") > col("p90") || col("p90") > col("p99")).isEmpty)
    assert(p.filter(!col("approx_ok")).isEmpty)
  }

  test("user retention: day-0 cells are the cohort sizes and no cell exceeds them") {
    val r = Analytics.userRetention(spark, sf)
    assert(r.filter(col("day_k") < 0).isEmpty)
    // every user is active on their own cohort day, so day-0 cells
    // partition the user base exactly
    val day0 = r.filter(col("day_k") === 0)
      .select(col("cohort"), col("n_users").as("size0"))
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(day0.agg(sum("size0")).head().getLong(0) == totalUsers)
    // a later cell can never retain more users than its cohort holds
    assert(day0.join(r, "cohort").filter(col("n_users") > col("size0")).isEmpty)
  }

  test("dow/hour profile: keys in range, cells partition the events") {
    val p = Analytics.dowHourProfile(spark, sf)
    assert(p.filter(col("dow") < 0 || col("dow") > 6
      || col("hr") < 0 || col("hr") > 23).isEmpty)
    assert(p.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, sf).count())
    // spot-check the weekday arithmetic against java.time
    val one = Tables.events(spark, sf)
      .select(col("ts"), unix_micros(col("ts")).as("us")).head()
    val wantDow = java.time.Instant.ofEpochMilli(one.getLong(1) / 1000)
      .atZone(java.time.ZoneOffset.UTC).getDayOfWeek.getValue % 7 // Mon=1..Sun=7 -> Sun=0
    val gotDow = ((one.getLong(1) / 86400000000L) + 4) % 7
    assert(gotDow == wantDow)
  }

  test("event sequences: first/last match the timeline ends, path is capped at 10") {
    val s = Analytics.eventSequences(spark, sf)
    val e = Tables.events(spark, sf)
    assert(s.agg(sum("n_events")).head().getLong(0) == e.count())
    val byUser = e.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(t => (t._1, t._2))).toMap
    s.collect().foreach { r =>
      val timeline = byUser(r.getLong(0))
      assert(r.getString(2) == timeline.head._3, s"first of user ${r.getLong(0)}")
      assert(r.getString(3) == timeline.last._3, s"last of user ${r.getLong(0)}")
      val want = timeline.take(10).map(_._3).mkString(">")
      assert(r.getString(4) == want, s"path of user ${r.getLong(0)}")
    }
  }

  test("value histogram: buckets partition the events and re-add to the total") {
    val h = Analytics.valueHistogram(spark, sf)
    val e = Tables.events(spark, sf)
    assert(h.agg(sum("n")).head().getLong(0) == e.count())
    val total = e.agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .head().getDouble(0)
    assert(math.abs(h.agg(sum("bucket_value")).head().getDouble(0) - total) < 1e-6)
    // every event's bucket really is floor(value/20)
    assert(h.filter(col("bucket") < 0).count() ==
      e.filter(col("value") < 0).select(col("event_type"),
        floor(col("value") / 20)).distinct().count())
  }

  test("session windows partition the event stream and respect the gap") {
    val s = Analytics.sessionWindowAgg(spark, sf)
    val rows = s.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // sessions partition the events exactly
    assert(rows.map(_._4).sum == Tables.events(spark, sf).count())
    val gapUs = 30L * 60 * 1000000
    rows.groupBy(_._1).foreach { case (uid, sess) =>
      val sorted = sess.sortBy(_._2)
      // end = last event + gap, so end > start always
      assert(sorted.forall(x => x._3 > x._2))
      // consecutive sessions of one user never overlap: the break needed
      // a >= gap silence, so next.start >= prev.end
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1)._2 >= p(0)._3, s"user $uid sessions overlap: $p")
      }
      // and each session spans less time than n_events * gap (no merge bug)
      assert(sorted.forall(x => x._3 - x._2 <= x._4 * gapUs))
    }
  }

  test("json props: every row parses (n_with_k == n_events) and sums match a regexp pull") {
    val j = Analytics.jsonProps(spark, sf)
    assert(j.filter(col("n_with_k") =!= col("n_events")).isEmpty)
    val want = Tables.events(spark, sf)
      .select(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k"))
      .agg(sum("k")).head().getLong(0)
    assert(j.agg(sum("sum_k")).head().getLong(0) == want)
  }

  test("full outer activity: keys are the union of both sides, padded sides are NULL") {
    val f = Analytics.fullOuterActivity(spark, sf)
    val orderKeys = Tables.orders(spark, sf).select(col("o_custkey").as("k")).distinct()
    val eventKeys = Tables.events(spark, sf).select(col("user_id").as("k")).distinct()
    assert(f.count() == orderKeys.union(eventKeys).distinct().count())
    // a customer with orders but no events carries NULL event columns (and
    // vice versa); no row may be NULL on both sides
    assert(f.filter(col("n_orders").isNull && col("n_events").isNull).isEmpty)
    val orderOnly = orderKeys.exceptAll(eventKeys).count()
    assert(f.filter(col("n_events").isNull).count() == orderOnly)
    assert(f.queryExecution.optimizedPlan.toString.contains("FullOuter"))
  }

  test("set ops: both/click_only partition the click user set disjointly") {
    val s = Analytics.setOpsUsers(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val both = s.collect { case ("both", u) => u }.toSet
    val only = s.collect { case ("click_only", u) => u }.toSet
    assert((both & only).isEmpty)
    val click = Tables.events(spark, sf).filter(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(both.size + only.size == click)
  }

  test("grouping sets: one Expand pass; each set re-adds to the same grand total") {
    val g = Analytics.revenueGroupingSets(spark, sf)
    assert(g.queryExecution.optimizedPlan.toString.contains("Expand"))
    val rows = g.collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = grand.head.getDouble(3)
    val byRegion = rows.filter(r => !r.isNullAt(0)).map(_.getDouble(3)).sum
    val bySegment = rows.filter(r => !r.isNullAt(1)).map(_.getDouble(3)).sum
    assert(math.abs(byRegion - total) < 1e-4 && math.abs(bySegment - total) < 1e-4)
  }

  test("event gaps: n_gaps is n_events-1 per user; single-user brute force agrees") {
    val g = Analytics.eventGaps(spark, sf)
    assert(g.filter(col("n_gaps") =!= col("n_events") - 1).isEmpty)
    assert(g.filter(col("max_gap_us") < 0).isEmpty)
    val uid = g.orderBy(desc("n_events")).head().getLong(0)
    val times = Tables.events(spark, sf).filter(col("user_id") === uid)
      .select(unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.map(_._1)
    val gaps = times.sliding(2).map(p => p(1) - p(0)).toSeq
    val row = g.filter(col("user_id") === uid).head()
    assert(row.getLong(2) == gaps.length)
    assert(row.getLong(3) == gaps.sum / gaps.length) // floor division
    assert(row.getLong(4) == gaps.max)
  }

  test("stats corr: matches Spark's built-in corr/covar_samp to 1e-6, bounded by [-1,1]") {
    val s = Analytics.statsCorr(spark, sf)
    assert(s.filter(col("corr_qty_price") < -1 || col("corr_qty_price") > 1).isEmpty)
    val builtin = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    s.collect().foreach { r =>
      val (c, cv) = builtin(r.getString(0))
      assert(math.abs(r.getDouble(2) - c) < 1e-6, s"corr ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - cv) < math.abs(cv) * 1e-9 + 1e-6, s"covar ${r.getString(0)}")
    }
  }

  test("revenue deciles: partition all ordering customers, no window in the plan") {
    val d = Analytics.revenueDeciles(spark, sf)
    // the decile assignment is the broadcast-cuts shape, not a global sort
    assert(!d.queryExecution.optimizedPlan.toString.contains("Window"))
    val rows = d.collect()
    assert(rows.map(_.getLong(0)).forall(x => x >= 1 && x <= 10))
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nCust)
    // interpolated cuts keep buckets near-balanced: no decile exceeds 2x
    // its fair share
    assert(rows.map(_.getLong(1)).max <= math.ceil(nCust / 10.0).toLong * 2)
  }

  test("typed top-k aggregator: equals the window form, merges associatively, partial-aggregates") {
    // result equivalence: the aggregator's p1 is exactly the window top-1
    val agg = Analytics.topPricesPerCustomer(spark, sf)
      .select(col("o_custkey"), col("p1").as("o_totalprice"))
    val win = Analytics.topOrderPerCustomer(spark, sf)
      .select("o_custkey", "o_totalprice")
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
    // plan: runs as a partial + final aggregate (map-side combine), never
    // a window sort
    val plan = Analytics.topPricesPerCustomer(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_3") && !plan.contains("Window"), plan.take(2000))
    // algebra: merge is order-insensitive and agrees with a full sort
    val f = new graft.functions.TopKDoubles(3)
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(9))(rnd.nextDouble() * 100)
      val (a, b) = xs.splitAt(rnd.nextInt(xs.length + 1))
      val viaMerge = f.merge(a.foldLeft(f.zero)(f.reduce), b.foldLeft(f.zero)(f.reduce))
      val viaMergeSwapped = f.merge(b.foldLeft(f.zero)(f.reduce), a.foldLeft(f.zero)(f.reduce))
      assert(viaMerge == xs.sortBy(-_).take(3) && viaMerge == viaMergeSwapped, s"xs=$xs")
    }
  }

  test("top-k per group compiles to WindowGroupLimit (partial top-k before the shuffle)") {
    // rank<=k filters over a window must push a per-partition group limit
    // below the exchange — without it every row of every group crosses
    // the shuffle just to be discarded, the difference between shuffling
    // k rows per group and the whole fact table at 100 TB
    val plan = Analytics.topOrderPerCustomer(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("fact-sized join side degrades to a shuffle join when broadcasting is off") {
    // the no-forced-broadcast contract: customer is broadcast at testdata
    // scale because AQE MEASURES it small, not because the plan demands
    // it — with the threshold off, the same operator must plan a shuffle
    // join instead of OOMing on a forced broadcast (run on an isolated
    // session so the setting never leaks)
    val iso = spark.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val plan = Analytics.revenueBySegment(iso, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      plan.take(2000))
    // and the result is identical either way
    val got = Analytics.revenueBySegment(iso, sf)
    val want = Analytics.revenueBySegment(spark, sf)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("incremental agg: base+delta merge equals the full recompute, slices disjoint") {
    val merged = Analytics.incrementalRevenue(spark, sf)
    val full = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // the split covers every order exactly once
    val n = Tables.orders(spark, sf).count()
    assert(merged.agg(sum("n_orders")).head().getLong(0) == n)
  }

  test("runtime bloom filter: selective dim predicate injects a filter into the fact side of a shuffle join") {
    // The fact-fact join optimization at 100 TB: when neither side
    // broadcasts, Spark can build a bloom filter from the SELECTIVE side
    // and apply it to the large side's scan, cutting shuffle volume
    // before the sort-merge join. The thresholds are sized for clusters,
    // so an isolated session lowers the application-side floor to make
    // the testdata-size fact qualify; the mechanism is what's pinned.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = Tables.lineitem(s2, sf).select("l_orderkey", "l_extendedprice")
    val o = Tables.orders(s2, sf)
      .filter(col("o_totalprice") > 100000.0).select("o_orderkey")
    val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain") || opt.contains("bloom_filter_agg"),
      s"expected an injected runtime bloom filter, got:\n${opt.take(3000)}")
    // correctness unchanged by the filter
    val expected = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .join(Tables.orders(spark, sf).filter(col("o_totalprice") > 100000.0)
        .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
    assert(j.count() == expected.count())
  }

  test("star join: line-status filter reaches the scan, dims broadcast, totals re-add") {
    val sj = Analytics.starJoinRevenue(spark, sf)
    val plan = sj.queryExecution.executedPlan.toString
    // pushdown: the selective predicate must reach the lineitem parquet scan
    assert(plan.contains("EqualTo(l_linestatus,F)"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), "bounded dims should broadcast")
    // regions x nations bound the output; revenue re-adds to the unjoined sum
    val rows = sj.collect()
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_linestatus") === "F")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("double")).head().getDouble(0)
    assert(math.abs(rows.map(_.getDouble(3)).sum - direct) < 1e-4)
  }

  test("funnel: stages shrink monotonically and are bounded by per-type user counts") {
    val f = Analytics.funnelConversion(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f.size == 3)
    assert(f("1_view") >= f("2_click_after_view"))
    assert(f("2_click_after_view") >= f("3_purchase_after_click"))
    // stage-gating can only REMOVE users vs the ungated per-type counts
    def usersOf(t: String) = Tables.events(spark, sf)
      .filter(col("event_type") === t).select("user_id").distinct().count()
    assert(f("1_view") == usersOf("view"))
    assert(f("2_click_after_view") <= usersOf("click"))
    assert(f("3_purchase_after_click") <= usersOf("purchase"))
  }

  test("scd2 history: versions are per-customer sequential, intervals chain without gaps") {
    // valid_from/valid_to surface as LocalDateTime (the tables' NTZ
    // timestamps) — compare them as Any.
    val h = Analytics.scd2History(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(3), r.get(4), r.getBoolean(5)))
      .groupBy(_._1)
    h.foreach { case (cust, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length), s"customer $cust versions")
      // each valid_to equals the NEXT version's valid_from; exactly the
      // last version is current (high-date)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"customer $cust interval chain")
        case _ =>
      }
      assert(sorted.count(_._5) == 1 && sorted.last._5, s"customer $cust current row")
    }
  }

  test("window suite: one Window operator; quartiles/pct_rank/cume agree with definitions") {
    val ws = Analytics.windowSuite(spark, sf)
    // all six functions fold into a single Window node over one shuffle
    val plan = ws.queryExecution.executedPlan.toString
    assert("(?s)Window".r.findAllIn(plan).length >= 1 &&
      "Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan.take(2000))
    // rank-derived columns against their definitions on one partition,
    // ordered by the source prices (the output carries no price column)
    val prices = Tables.orders(spark, sf).filter(col("o_custkey") === 1)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val one = ws.filter(col("o_custkey") === 1).collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(7)))
    if (one.nonEmpty) {
      val n = one.length
      val byRank = one.sortBy { case (key, _, _, _) => (-prices(key), key) }
      val maxPrice = prices.values.max
      byRank.zipWithIndex.foreach { case ((_, pr, cd, top), i) =>
        if (n > 1) assert(math.abs(pr - i.toDouble / (n - 1)) < 1e-6, "pct_rank")
        assert(math.abs(cd - (i + 1).toDouble / n) < 1e-6, "cume_dist")
        assert(top == maxPrice, "top_price is partition max")
      }
    }
  }

  test("attribution: binned equi-join equals the brute-force interval join, no NLJ in plan") {
    val got = Analytics.purchaseAttribution(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // scale guard: the plan must be a hash equi-join on (user, day), not a
    // nested-loop/cartesian theta join
    val plan = Analytics.purchaseAttribution(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val viewsByUser = evs.filter(_._3 == "view").groupBy(_._2)
    val expected = evs.filter(_._3 == "purchase").map { case (id, uid, _, us) =>
      id -> viewsByUser.getOrElse(uid, Array.empty)
        .count(v => v._4 >= us - 86400000000L && v._4 <= us).toLong
    }.toMap
    assert(got == expected)
  }

  test("column profile: one-pass melt (no Expand), counts match direct recomputation") {
    val df = Analytics.columnProfile(spark, sf)
    // the lone distinct must plan as two-level agg, never an Expand
    assert(!df.queryExecution.executedPlan.toString.contains("Expand"),
      "column profile planned an Expand")
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    val n = docs.length.toLong
    assert(got.keySet == Set("doc_id", "text", "lang", "source", "n_chars"))
    got.values.foreach { case (rows, nulls, _) => assert(rows == n && nulls == 0L) }
    assert(got("doc_id")._3 == n, "doc_id must be unique")
    assert(got("text")._3 == docs.map(_.getString(1)).distinct.length.toLong,
      "text distinct must count seeded duplicates once")
    assert(got("lang")._3 == docs.map(_.getString(2)).distinct.length.toLong)
    assert(got("source")._3 == docs.map(_.getString(3)).distinct.length.toLong)
  }

  test("AQE skew join: a hot key's oversized partition is split at runtime") {
    // The OTHER half of the skew story next to manual salting
    // (eventsByTypeSalted) and the LSH bucket cap: when a shuffle join's
    // key distribution is skewed, AQE's OptimizeSkewedJoin splits the
    // oversized partition into advisory-sized chunks at runtime — no
    // code change, no pre-known hot keys. Thresholds are sized for
    // clusters, so the spec lowers them to testdata scale (the mechanism
    // is what's pinned, same philosophy as the bloom-filter spec).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    // Two constraints shape the fixture. (1) Skew splits happen at
    // MAP-OUTPUT granularity, and the tiny sf0.001 parquet reads as ONE
    // map task — a hot partition fed by a single mapper has no seam to
    // split at — so the fact is staged as a 16-file parquet (file-split
    // parallelism; on a real cluster the fact side always has thousands
    // of mappers). (2) OptimizeSkewedJoin matches ONLY the literal
    // SortMergeJoin(Sort(stage), Sort(stage)) shape, so both join inputs
    // must be plain scans: a distinct()/aggregate on the dim side (its
    // final HashAggregate lands between the Sort and the shuffle stage)
    // or a repartition() on the fact side silently disqualifies the
    // join — which is itself worth pinning. ~90% of rows land on one
    // key; incompressible md5 padding (aggregated below, so pruning
    // cannot drop it) gives the hot partition real (compressed) shuffle
    // bytes.
    val base = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-aqe-skew-").toString
    Tables.events(spark, sf)
      .select(when(col("event_id") % 10 < 9, 0L).otherwise(col("event_id") % 10).as("k"),
        col("value"),
        concat((0 until 8).map(i =>
          md5(concat(col("event_id").cast("string"), lit(s"-$i")))): _*).as("pad"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$base/fact")
    Tables.events(spark, sf)
      .select((col("event_id") % 10).as("k")).distinct()
      .write.mode("overwrite").parquet(s"$base/dim")
    def joined(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$base/fact").join(s.read.parquet(s"$base/dim"), "k")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v"),
          sum(length(col("pad")).cast("long")).as("pad_mass"))
    val j = joined(s2)
    val row = j.collect().head
    val plan = j.queryExecution.executedPlan.toString
    // reads print "AQEShuffleRead skewed" or "coalesced and skewed"
    assert(plan.contains("skew=true") && plan.contains("skewed"),
      s"expected a runtime skew-split SortMergeJoin, got:\n${plan.take(3000)}")
    // the runtime split must not change the result
    val expected = joined(spark).collect().head
    assert(row == expected, s"skew-split result drifted: $row vs $expected")
  }

  test("salted join equals the plain join and spreads keys across salts") {
    val salted = Analytics.saltedUserJoin(spark, sf)
    val plain = graft.Tables.events(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salt-replicate join drifted from the plain join")
  }

  test("hll sketch store: daily-merge identity and estimate quality hold") {
    val row = Analytics.hllSketchStore(spark, sf).collect().head
    // HLL registers max-merge: the union of disjoint daily sketches must
    // EQUAL the direct whole-table sketch, not merely approximate it
    assert(row.getAs[Boolean]("merged_equals_direct"),
      "daily sketch union diverged from the direct sketch")
    assert(row.getAs[Boolean]("within_5pct"))
    assert(row.getAs[Long]("n_days") >= 2,
      "store must hold at least two daily sketches for the merge to mean anything")
  }

  test("distribution drift: identical slices yield PSI 0, a shifted slice does not") {
    import spark.implicits._
    // the operator's arithmetic on a hand-built frame: baseline == current
    // (every event duplicated across halves) must give PSI exactly 0
    val base = Seq.tabulate(200)(i =>
      (i.toLong * 2, "t", (i % 10) * 50.0 + 1.0)) // even ids: baseline
    val cur = base.map { case (id, t, v) => (id + 1, t, v) } // odd twin
    val df = (base ++ cur).toDF("event_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val tmp = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-drift-").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val zero = Analytics.distributionDrift(spark, tmp).collect().head
    assert(zero.getAs[Double]("psi") == 0.0 && !zero.getAs[Boolean]("drifted"))
    // shift the odd half's values by two full bins: PSI must flag drift
    val shifted = (base ++ cur.map { case (id, t, v) => (id, t, v + 100.0) })
      .toDF("event_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    shifted.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val hit = Analytics.distributionDrift(spark, tmp).collect().head
    assert(hit.getAs[Double]("psi") > 0.2 && hit.getAs[Boolean]("drifted"),
      s"two-bin shift must trip the 0.2 PSI gate, got ${hit.getAs[Double]("psi")}")
  }

  test("sketch intersection: every type pair, exact-consistent, estimate within bound") {
    val rows = Analytics.sketchIntersection(spark, sf).collect()
    val nTypes = Tables.events(spark, sf)
      .select("event_type").distinct().count().toInt
    assert(rows.length == nTypes * (nTypes - 1) / 2,
      s"expected C($nTypes,2) pairs, got ${rows.length}")
    rows.foreach { r =>
      val na = r.getAs[Long]("na"); val nb = r.getAs[Long]("nb")
      val common = r.getAs[Long]("n_common")
      assert(common <= math.min(na, nb), s"overlap exceeds a side: $r")
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0, s"jaccard $j out of range")
      assert(r.getAs[Boolean]("est_ok"),
        s"HLL inclusion-exclusion estimate off by > 5%: $r")
    }
  }

  test("event transitions: rows normalize to 1, transition mass = events - users") {
    val rows = Analytics.eventTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-row (cur_type) probabilities sum to 1 within rounding slack
    rows.groupBy(_.getAs[String]("cur_type")).foreach { case (t, rs) =>
      val pSum = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"row $t sums to $pSum")
      rs.foreach(r => assert(r.getAs[Double]("p") > 0.0 && r.getAs[Double]("p") <= 1.0))
    }
    // every user with k events contributes exactly k-1 transitions
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected,
      "transition mass must be total events minus one per user")
  }

  test("rfm segments: users partition into segments; scores match a brute-force recompute") {
    val got = graft.operators.Analytics.rfmSegments(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pu = Tables.events(spark, sf).groupBy("user_id")
      .agg(unix_micros(max(col("ts"))).as("t"), count(lit(1)).as("f"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.values.map(_._1).sum == pu.length, "segments must partition users")
    val tMax = pu.map(_._2).max
    // exact MICROS, same arithmetic as the operator — getTime would
    // truncate sub-millisecond precision and could flip a day boundary
    val base = pu.map { case (u, t, f, m) => (u, (tMax - t) / 86400000000L, f, m) }
    def cuts(xs: Seq[Double]): Seq[Double] = {
      val s = xs.sorted
      (1 to 4).map { q =>
        val rank = (s.length - 1) * q / 5.0
        val lo = s(rank.toInt)
        val hi = s(math.min(rank.toInt + 1, s.length - 1))
        BigDecimal(lo + (rank - rank.toInt) * (hi - lo))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val (rc, fc, mc) = (cuts(base.map(_._2.toDouble).toSeq),
      cuts(base.map(_._3.toDouble).toSeq), cuts(base.map(_._4).toSeq))
    val expect = base.map { case (_, rec, f, m) =>
      val r = 1 + rc.count(rec < _)
      val fs = 1 + fc.count(f > _)
      val ms = 1 + mc.count(m > _)
      val seg = if (r >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (r >= 4 && fs <= 2) "new"
        else if (r <= 2 && fs >= 4) "at_risk" else "regular"
      (seg, m)
    }.groupBy(_._1).map { case (s, xs) => s -> (xs.length.toLong,
      xs.map(x => BigDecimal(x._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble) }
    assert(got.keySet == expect.keySet, s"${got.keySet} vs ${expect.keySet}")
    expect.foreach { case (s, (n, m)) =>
      assert(got(s)._1 == n, s"segment $s count")
      assert(math.abs(got(s)._2 - m) < 1e-6, s"segment $s monetary")
    }
  }

  test("rolling DAU/WAU: contribution explode equals per-day brute-force distinct") {
    val got = graft.operators.Analytics.rollingDau(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Double]("stickiness")))
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val dayMs = 24L * 3600 * 1000
    val days = ud.map(_._2).distinct.sorted
    assert(got.map(_._1).sorted.sameElements(days), "one row per active day")
    got.foreach { case (d, dau, wau, st) =>
      val expDau = ud.count(_._2 == d)
      // brute force WAU: distinct users active in [d-6, d]
      val expWau = ud.filter(p => p._2 <= d && p._2 >= d - 6 * dayMs)
        .map(_._1).distinct.length
      assert(dau == expDau, s"day $d dau")
      assert(wau == expWau, s"day $d wau: $wau vs $expWau")
      assert(wau >= dau && st > 0 && st <= 1.0)
      assert(math.abs(st - dau.toDouble / wau) < 1e-6)
    }
  }

  test("gap fill: dense daily axis, zero gaps, LOCF carries the last observed value") {
    val rows = graft.operators.Analytics.gapFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getBoolean(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val dayMs = 24L * 3600 * 1000
    rows.groupBy(_._1).foreach { case (u, rs0) =>
      val rs = rs0.sortBy(_._2)
      // contiguous daily axis from first to last observed day
      assert(rs.head._3 == false && rs.last._3 == false,
        s"user $u: span endpoints must be observed days")
      rs.sliding(2).filter(_.length == 2).foreach {
        case Array((_, a, _, _, _, _), (_, b, _, _, _, _)) =>
          assert(b - a == dayMs, s"user $u: axis not contiguous")
      }
      // gap rows are zeroed; carried value repeats the last observed total
      var lastObserved = Double.NaN
      rs.foreach { case (_, _, isGap, n, v, carried) =>
        if (isGap) {
          assert(n == 0L && v == 0d)
          assert(carried == lastObserved, s"user $u: LOCF drifted")
        } else {
          assert(n > 0L)
          lastObserved = v
          assert(carried == v)
        }
      }
    }
    // observed mass equals the raw daily aggregate (events all preserved)
    val ev = Tables.events(spark, sf)
    assert(rows.map(_._4).sum == ev.count())
  }
}
