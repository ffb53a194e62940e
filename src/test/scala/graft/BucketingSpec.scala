package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Bucketing}

/** The bucketed co-located join must (a) agree with the shuffled join and
  * (b) actually eliminate the join-side Exchanges — only the final
  * aggregation may shuffle. */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("bucketed join equals the plain join result") {
    val b = Bucketing.bucketedLineitemOrderJoin(spark, sf)
    val p = Analytics.lineitemOrderJoin(spark, sf)
    assert(b.exceptAll(p).isEmpty && p.exceptAll(b).isEmpty)
  }

  test("join inputs read co-located buckets: no Exchange below the join") {
    val df = Bucketing.bucketedLineitemOrderJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // one Exchange for the groupBy; none feeding the join
    val exchanges = "(?i)\\bExchange\\b".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most the aggregation Exchange, plan:\n$plan")
  }

  test("partitioned layout: the scan prunes to ONE partition at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = Bucketing.partitionPrunedEvents(spark, sf, keep = "click")
    // AQE hides the physical tree behind AdaptiveSparkPlanExec — unwrap it
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the partitioned layout")
    val scan = scans.head
    // the event_type predicate must be a PARTITION filter (directory-level
    // pruning), not a per-row data filter
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"event_type must prune partitions, got: ${scan.partitionFilters}")
    assert(scan.relation.partitionSchema.fieldNames.contains("event_type"))
    assert(!scan.dataFilters.exists(_.toString.contains("event_type")),
      s"event_type must not survive as a data filter: ${scan.dataFilters}")
    // and the directory listing actually collapsed to the one matching value
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
    // result equality with the unpartitioned source
    val direct = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("value").cast("decimal(18,2)"))
          .cast("double").as("total_value"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("nested pruning: only the touched struct subfields reach the parquet reader") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = Bucketing.nestedPrunedScan(spark, sf)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the nested layout")
    val read = scans.head.requiredSchema.catalogString
    assert(read.contains("status") && read.contains("price"),
      s"touched subfields must be read: $read")
    assert(!read.contains("priority"),
      s"untouched struct subfield must be pruned from the scan: $read")
    // result equality with the flat source
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val direct = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("dpp join: fact scan carries a dynamicpruning partition filter") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = Bucketing.dppJoin(spark, sf)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the partitioned fact scan must be pruned by a runtime subquery on
    // the dim side, not read in full
    val factScans = plan.collect {
      case f: FileSourceScanExec
        if f.relation.partitionSchema.fieldNames.contains("event_type") => f
    }
    assert(factScans.nonEmpty, "expected a scan over the partitioned fact layout")
    assert(factScans.head.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"fact scan must carry a dynamicpruning filter, got: ${factScans.head.partitionFilters}")
    // result equality with the direct filtered aggregate
    val direct = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("event_type")) === 5)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("value").cast("decimal(18,2)"))
          .cast("double").as("total_value"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("z-order layout: parquet row-group min/max stats prune probes on EITHER dim") {
    // The physical proof of the z-order claim (VERDICT r7 #8): write the
    // same rows as real parquet in three layouts — hour-sorted,
    // user-sorted, z-ordered — with small row groups, then read the
    // row-group min/max STATS from the footers and count how many groups
    // a reader must touch per probe. A single-column sort prunes its own
    // dimension perfectly and its orthogonal dimension not at all
    // (min/max of the unsorted column spans every group); the z-order
    // layout must prune BOTH. bits=7 matches the testdata cardinalities
    // (150 users, 720 hours) so the interleave actually balances.
    import scala.jdk.CollectionConverters._
    val sf01 = "/root/testdata/sf0.01"
    val z = Bucketing.zorderKey(spark, sf01, bits = 7)
      .select("event_id", "ub", "hb", "zval")
    val base = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-zorder-").toString
    try {
      def layout(sub: String, sortCol: String): Unit =
        z.repartition(1).sortWithinPartitions(sortCol)
          .write.option("parquet.block.size", 12 * 1024)
          .option("parquet.enable.dictionary", "false")
          .mode("overwrite").parquet(s"$base/$sub")
      layout("hour_sorted", "hb")
      layout("user_sorted", "ub")
      layout("zorder", "zval")

      // (ubMin, ubMax, hbMin, hbMax) per row group, from the footer stats
      def rowGroups(sub: String): Seq[(Long, Long, Long, Long)] = {
        val f = new java.io.File(s"$base/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val st = b.getColumns.asScala
            .map(c => c.getPath.toDotString -> c.getStatistics).toMap
          def mm(n: String): (Long, Long) =
            (st(n).genericGetMin.asInstanceOf[java.lang.Long].longValue,
              st(n).genericGetMax.asInstanceOf[java.lang.Long].longValue)
          val (ul, uh) = mm("ub"); val (hl, hh) = mm("hb")
          (ul, uh, hl, hh)
        } finally r.close()
      }
      val byHour = rowGroups("hour_sorted")
      val byUser = rowGroups("user_sorted")
      val byZ = rowGroups("zorder")
      assert(byHour.size >= 8 && byUser.size >= 8 && byZ.size >= 8,
        s"need multiple row groups to compare pruning, got ${byZ.size}")

      val rows = z.select("ub", "hb").collect().map(r => (r.getLong(0), r.getLong(1)))
      val users = rows.map(_._1).distinct
      val hours = rows.map(_._2).distinct
      def touchedU(gs: Seq[(Long, Long, Long, Long)], u: Long) =
        gs.count { case (lo, hi, _, _) => u >= lo && u <= hi }
      def touchedH(gs: Seq[(Long, Long, Long, Long)], h: Long) =
        gs.count { case (_, _, lo, hi) => h >= lo && h <= hi }
      def avg(xs: Seq[Int]) = xs.sum.toDouble / xs.size

      val userOnZ = avg(users.map(u => touchedU(byZ, u)).toSeq)
      val userOnHour = avg(users.map(u => touchedU(byHour, u)).toSeq)
      val hourOnZ = avg(hours.map(h => touchedH(byZ, h)).toSeq)
      val hourOnUser = avg(hours.map(h => touchedH(byUser, h)).toSeq)

      // each single-column sort cannot prune its orthogonal dimension …
      assert(userOnHour >= 0.9 * byHour.size,
        f"hour-sorted layout unexpectedly pruned user probes ($userOnHour%.1f of ${byHour.size})")
      assert(hourOnUser >= 0.9 * byUser.size,
        f"user-sorted layout unexpectedly pruned hour probes ($hourOnUser%.1f of ${byUser.size})")
      // … while the z-order layout prunes BOTH well below the full scan
      assert(userOnZ < 0.6 * userOnHour,
        f"z-layout user probes touched $userOnZ%.1f of ${byZ.size} groups vs $userOnHour%.1f hour-sorted")
      assert(hourOnZ < 0.6 * hourOnUser,
        f"z-layout hour probes touched $hourOnZ%.1f of ${byZ.size} groups vs $hourOnUser%.1f user-sorted")
    } finally {
      val p = java.nio.file.Paths.get(base)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
  }

  test("z-order scan: 2-D predicate reaches the parquet reader as pushed filters") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = Bucketing.zorderScan(spark, sf)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the z layout")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ub") && pushed.contains("LessThanOrEqual(hb"),
      s"ub/hb window must push into the parquet reader, got: $pushed")
    // and the windowed aggregate equals the direct computation
    val direct = Bucketing.zorderKey(spark, sf)
      .filter(org.apache.spark.sql.functions.col("ub").between(2, 12) &&
        org.apache.spark.sql.functions.col("hb").between(64, 959))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.min("event_id"),
          org.apache.spark.sql.functions.lit(0L)).as("min_event"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.max("event_id"),
          org.apache.spark.sql.functions.lit(0L)).as("max_event"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("z-order: interleave is invertible and z-sorted buckets cluster both dims") {
    val z = Bucketing.zorderKey(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // invertibility: de-interleaving the Morton key recovers both dims
    z.foreach { case (ub, hb, zv) =>
      var u = 0L; var h = 0L
      for (i <- 0 until 10) {
        u |= ((zv >> (2 * i)) & 1) << i
        h |= ((zv >> (2 * i + 1)) & 1) << i
      }
      assert(u == ub && h == hb, s"zval $zv should invert to ($ub, $hb)")
    }
    // the layout claim: cutting the corpus into 32 contiguous "files" in
    // zval order bounds the USER span of each file, where a time-sorted
    // layout leaves it near the full user range (so min/max pruning on
    // user_id does nothing there). sf0.001 has only 15 distinct users —
    // every 31-row file saturates the span in ANY layout — so the
    // clustering half runs on sf0.01's 150-user corpus.
    val z01 = Bucketing.zorderKey(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    def meanUserSpan(sorted: Array[(Long, Long, Long)]) = {
      val per = math.max(1, sorted.length / 32)
      val spans = sorted.grouped(per).map(g => (g.map(_._1).max - g.map(_._1).min).toDouble)
      val arr = spans.toArray
      arr.sum / arr.length
    }
    val byZ = meanUserSpan(z01.sortBy(_._3))
    val byTime = meanUserSpan(z01.sortBy(_._2))
    assert(byZ < byTime * 0.8,
      s"z-layout mean user span $byZ should be well under time-layout $byTime")
  }

  test("manifest planning reads a strict file subset and stays lossless") {
    import org.apache.spark.sql.functions._
    val (sel, total) = Bucketing.manifestSelectedFiles(spark, sf,
      "1998-06-01", "1998-06-30")
    // 8 range files over 1995–2001: a one-month window touches ≤2
    assert(total == 8, s"range layout should produce 8 files, got $total")
    // the property the whole scheme rests on: per-file date ranges are
    // pairwise DISJOINT (repartitionByRange hands each file one slice),
    // so any window's candidate set is minimal
    val ranges = spark.read.parquet(Bucketing.ensureRangeOrders(spark, sf))
      .groupBy(input_file_name()).agg(
        min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2)))
      .sortBy(_._1.getTime)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(!hi1.after(lo2), s"file ranges overlap: $hi1 vs $lo2")
      case _ =>
    }
    assert(sel >= 1 && sel <= 2, s"one-month window should plan 1-2 of 8 files, got $sel")
    val out = Bucketing.manifestPrunedScan(spark, sf).collect()(0)
    val direct = Tables.orders(spark, sf)
      .filter(col("o_orderdate").between(lit("1998-06-01 00:00:00"), lit("1998-06-30 00:00:00")))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
      .collect()(0)
    assert(out.getLong(0) == direct.getLong(0) && out.getDouble(1) == direct.getDouble(1),
      s"pruned scan ${(out.getLong(0), out.getDouble(1))} must equal " +
        s"direct filter ${(direct.getLong(0), direct.getDouble(1))}")
    assert(out.getLong(2) == 8 && out.getBoolean(3))
  }

  test("manifest planning: a window outside the data range returns zero rows, not a crash") {
    val out = Bucketing.manifestPrunedScan(spark, sf,
      lo = "2015-01-01", hi = "2015-01-31").collect()(0)
    assert(out.getLong(0) == 0L, "out-of-range window must count zero orders")
    assert(out.isNullAt(1), "revenue over zero orders is null")
    assert(out.getLong(2) == 8)
  }

  test("bloom prune: filter injected, result exact, session confs restored") {
    import org.apache.spark.sql.functions.col
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val out = Bucketing.bloomPrunedJoin(spark, sf).collect()
    // the verdict column is computed from the optimized plan — the rule
    // must actually have fired under the scoped confs
    assert(out.forall(_.getAs[Boolean]("bloom_applied")),
      "runtime bloom filter was not injected")
    // bloom false positives are removed by the join: exact row parity with
    // the unpruned join
    val plain = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(out.map(_.getAs[Long]("n_lines")).sum == plain)
    // the scoped conf block must restore the session's broadcast threshold
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before,
      "bloomPrunedJoin leaked a session conf override")
  }
}
