package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Artifacts, Tables}

/** Bucketed-table co-located join — the lay-out-the-data answer to join
  * shuffles at 100 TB (SURVEY §4.2 partition-layout row): both fact
  * tables are written `bucketBy` their join key with the same bucket
  * count, so the subsequent equi-join reads co-located buckets and the
  * physical plan has NO Exchange on either join input — the only shuffle
  * left is the final aggregation's. At scale this is the difference
  * between shuffling both fact tables per query and shuffling them once
  * at ingest.
  *
  * Uses the session catalog + warehouse dir (in-memory catalog, parquet
  * V1 tables — the only Spark surface that records bucketing metadata).
  * The result is identical to the non-bucketed join, which is exactly
  * what the oracle checks.
  */
object Bucketing {

  private val Buckets = 16

  /** The in-memory catalog forgets tables between sessions but their
    * warehouse directories persist, and saveAsTable refuses to reuse an
    * orphaned location — drop both the catalog entry and the directory. */
  private[graft] def reset(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Artifacts.deleteTree(java.nio.file.Paths.get(wh, table))
  }

  /** The corpus-tagged table name for `base` over `dir`. */
  private[graft] def taggedName(base: String, dir: String): String =
    s"${base}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Run `write` (a saveAsTable of `name`) once per (session, dir, name),
    * resetting any orphaned catalog entry/warehouse dir first — shared by
    * the fact tables here and the bucketed documents corpus
    * ([[Curation.ensureBucketedDocs]]). The whole point of bucketing is
    * paying the layout shuffle ONCE at ingest so every subsequent join is
    * Exchange-free — re-writing the tables inside the query would charge
    * the ingest to every run (the r8 bench showed exactly that: 3.1 s of
    * which the join was a fraction). Table names carry the corpus tag so
    * concurrent flows over different sf dirs in one session never clobber
    * each other's layout. */
  private[graft] def ensureStagedTable(spark: SparkSession, dir: String,
                                       name: String)(write: => Unit): String = {
    Artifacts.once(spark.sparkContext.applicationId + "|" + dir + "|" + name) {
      reset(spark, name)
      write
    }
    name
  }

  /** Stage `lineitem`/`orders` as bucketed tables for `dir` (idempotent
    * per session+corpus; Bench pre-builds this as the `bucketed_tables`
    * store_build entry) and return the (lineitem, orders) table names. */
  def ensureBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val liT = ensureStagedTable(spark, dir, taggedName("lineitem_bucketed", dir)) {
      Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(taggedName("lineitem_bucketed", dir))
    }
    val oT = ensureStagedTable(spark, dir, taggedName("orders_bucketed", dir)) {
      Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(taggedName("orders_bucketed", dir))
    }
    (liT, oT)
  }

  def bucketedLineitemOrderJoin(spark: SparkSession, dir: String): DataFrame = {
    val (liT, oT) = ensureBucketedTables(spark, dir)
    val li = spark.table(liT)
    val o = spark.table(oT)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("total_price"))
  }

  /** Hive-style PARTITIONED parquet layout + partition-pruned scan — the
    * other half of the lay-out-the-data story (SURVEY §4.2 partition-
    * pruning row): events written `partitionBy(event_type)` into one
    * directory per value, then read back with an event_type predicate.
    * The predicate resolves against directory NAMES at planning time
    * (PartitionFilters, asserted in BucketingSpec) — non-matching
    * partitions are never listed, opened, or decoded. At 100 TB with a
    * date/tenant layout this is the difference between scanning the
    * whole corpus and scanning one slice; the same mechanism serves
    * dynamic partition pruning when the predicate arrives via a dim
    * join. The aggregate re-checks against the unpartitioned source. */
  def partitionPrunedEvents(spark: SparkSession, dir: String,
                            keep: String = "click"): DataFrame = {
    // the shared pid-scoped scratch convention (Artifacts.scratch) — the
    // path derivation must not fork per call site
    val base = Artifacts.scratch(dir) + "/events_by_type"
    Tables.events(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(base)
    spark.read.parquet(base)
      .filter(col("event_type") === keep)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  def partitionPrunedEventsOracleSql(keep: String = "click"): String =
    s"""SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events WHERE event_type = '$keep'
        GROUP BY event_type ORDER BY event_type"""

  /** DYNAMIC PARTITION PRUNING — the star-schema scan killer at 100 TB:
    * the fact table is laid out partitioned by the join key; the dim side
    * carries a selective predicate that is only known at runtime (here
    * `length(event_type) = 5`, evaluated against the source table — a
    * SEPARATE scan, so the filter cannot be statically copied to the
    * fact side). Spark injects a DynamicPruningSubquery into the fact
    * scan's partition filters: the dim side is evaluated first (reusing
    * its broadcast) and only matching partition DIRECTORIES of the fact
    * table are listed and read. BucketingSpec asserts the
    * `dynamicpruning` expression is present in the scan. At 100 TB with
    * a date/tenant-partitioned fact table this is the difference between
    * scanning everything and scanning the few partitions the dim query
    * selects. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.scratch(dir) + "/events_by_type_dpp"
    Tables.events(spark, dir)
      .write.mode("overwrite").partitionBy("event_type").parquet(base)
    val facts = spark.read.parquet(base)
    val dim = Tables.events(spark, dir)
      .select("event_type").distinct()
      .filter(length(col("event_type")) === 5)
    facts.join(dim, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  val dppJoinOracleSql: String =
    """SELECT event_type, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events
       WHERE length(event_type) = 5
       GROUP BY event_type ORDER BY event_type"""

  /** Z-ORDER (Morton) key for multi-dimensional data layout: interleave
    * the low `bits` of the user dimension with the low `bits` of the
    * time dimension, bit by bit. Sorting a write by this key clusters
    * BOTH dimensions simultaneously, so parquet row-group min/max stats
    * prune selective predicates on EITHER column — the layout trick
    * partition-by-one-column cannot give (a time-sorted layout prunes
    * time filters perfectly and user filters not at all). At 100 TB this
    * is a write-side `repartitionByRange(zval).sortWithinPartitions`
    * before the sink; here the key itself is the operator. Pure int64
    * bit arithmetic — identical in both engines — emitted per event
    * together with a per-z-bucket profile of how tightly each dimension
    * clusters (the span statistic the ZorderSpec asserts shrinks vs a
    * time-sorted layout). */
  def zorderKey(spark: SparkSession, dir: String, bits: Int = 10): DataFrame = {
    val mask = (1 << bits) - 1
    Tables.events(spark, dir)
      .select(col("event_id"),
        (col("user_id") % (mask + 1)).as("ub"),
        (floor(unix_micros(col("ts")) / 3600000000L) % (mask + 1)).as("hb"))
      .select(col("event_id"), col("ub"), col("hb"),
        expr(s"""aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) ->
                   acc + shiftleft(shiftright(ub, i) & 1, 2 * i)
                       + shiftleft(shiftright(hb, i) & 1, 2 * i + 1))""").as("zval"))
  }

  /** Z-ordered LAYOUT + 2-D windowed scan — the WRITE-side half of the
    * z-order story ([[zorderKey]] is the key; this is the sink shape a
    * 100 TB deployment runs): `repartitionByRange(zval)` hands each
    * output file a contiguous z-range, `sortWithinPartitions(zval)`
    * clusters row groups inside the file, so parquet min/max stats stay
    * tight on BOTH the user and hour dimensions (the physical proof is
    * BucketingSpec's row-group test). The read-back then scans with a
    * 2-D (user-band, hour-band) predicate that Spark pushes into the
    * parquet reader (PushedFilters — plan-asserted in BucketingSpec),
    * where it prunes at row-group granularity. The oracle computes the
    * same window straight from the source table, so the layout write +
    * pruned scan must be lossless. */
  def zorderScan(spark: SparkSession, dir: String, bits: Int = 10,
                 uLo: Long = 2, uHi: Long = 12,
                 hLo: Long = 64, hHi: Long = 959): DataFrame = {
    val base = Artifacts.scratch(dir) + "/events_zorder"
    zorderKey(spark, dir, bits)
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
      .filter(col("ub").between(uLo, uHi) && col("hb").between(hLo, hHi))
      .agg(count(lit(1)).as("n_events"),
        coalesce(min(col("event_id")), lit(0L)).as("min_event"),
        coalesce(max(col("event_id")), lit(0L)).as("max_event"))
  }

  def zorderScanOracleSql(bits: Int = 10, uLo: Long = 2, uHi: Long = 12,
                          hLo: Long = 64, hHi: Long = 959): String = {
    val mask = (1 << bits) - 1
    s"""SELECT count(*) AS n_events,
               coalesce(min(event_id), 0) AS min_event,
               coalesce(max(event_id), 0) AS max_event
        FROM (SELECT event_id,
                     user_id % ${mask + 1} AS ub,
                     CAST(floor((epoch_ns(ts) // 1000) / 3600000000) AS BIGINT)
                       % ${mask + 1} AS hb
              FROM events) t
        WHERE ub BETWEEN $uLo AND $uHi AND hb BETWEEN $hLo AND $hHi"""
  }

  /** NESTED-COLUMN pruning — the scan story for TYPED METADATA columns
    * (the multimodal tables carry struct metadata; LLM corpora carry
    * struct provenance/license blocks): a struct column is staged once
    * (`nested_orders` store_build input, like the other fixtures), then
    * read touching only TWO of its three fields. Catalyst's nested-schema
    * pruning pushes the SUBFIELD projection into the parquet reader
    * (ReadSchema lists meta.status/meta.price but NOT meta.priority —
    * plan-asserted in BucketingSpec), so at 100 TB a wide metadata struct
    * costs only the fields a query touches, exactly like top-level column
    * pruning. The oracle recomputes the aggregate from the flat source. */
  def ensureNestedOrders(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"nested-${dir.replace('/', '_')}") { tmp =>
      Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority"),
            col("o_totalprice").as("price")).as("meta"))
        .write.mode("overwrite").parquet(tmp.resolve("data").toString)
    }.toString + "/data"

  def nestedPrunedScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureNestedOrders(spark, dir))
      .groupBy(col("meta.status").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("meta.price").cast(DecimalType(18, 2))).cast("double").as("revenue"))

  val nestedPrunedScanOracleSql: String =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** Stage `orders` as a RANGE layout on `o_orderdate` — the time-sorted
    * ingest shape of a daily-crawl corpus: `repartitionByRange` hands each
    * output file one contiguous date slice and `sortWithinPartitions`
    * keeps row groups tight inside it, so per-file min/max stats are
    * DISJOINT across files and any time-window predicate maps to a small
    * file subset. Built once per corpus like the other staged artifacts
    * (Bench `range_orders` store_build entry). */
  def ensureRangeOrders(spark: SparkSession, dir: String,
                        files: Int = RangeFiles): String =
    Artifacts.ensure(s"rangeorders-${dir.replace('/', '_')}-$files") { tmp =>
      Tables.orders(spark, dir)
        .repartitionByRange(files, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(tmp.resolve("data").toString)
    }.toString + "/data"

  private val RangeFiles = 8

  /** FILE-MANIFEST data skipping — the Iceberg/Delta planning pattern
    * re-expressed natively: collect per-FILE (min, max, rows) stats over
    * the range layout in one metadata-sized pass (one row per file, not
    * per record — ∝ file count even at 100 TB), plan the file subset
    * whose [min, max] overlaps the query window on the driver (exactly
    * what table-format manifests are for; the collect is bounded by the
    * manifest, never the data), then read ONLY those paths with the
    * residual predicate applied on top. Parquet footer min/max then
    * prunes row groups WITHIN the chosen files ([[zorderScan]] proves
    * that layer). A one-month window over the 1995–2001 corpus touches
    * ≤2 of the 8 files (spec-asserted); the oracle recomputes the window
    * aggregate from the raw table, so planning + pruned scan must be
    * lossless. Emits the skipping proof alongside the aggregate. */
  def manifestPrunedScan(spark: SparkSession, dir: String,
                         lo: String = "1998-06-01",
                         hi: String = "1998-06-30"): DataFrame = {
    val base = ensureRangeOrders(spark, dir)
    val loTs = utcTs(lo)
    val hiTs = utcTs(hi)
    val manifest = spark.read.parquet(base)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_orderdate")).as("f_lo"), max(col("o_orderdate")).as("f_hi"))
      .collect()
    val selected = manifest
      .filter(r => !r.getTimestamp(2).before(loTs) && !r.getTimestamp(1).after(hiTs))
      .map(_.getString(0))
    // a window outside the data's range selects ZERO files — serve it
    // from the base scan under a false-by-stats predicate (parquet footer
    // min/max prunes every row group, so this costs metadata only)
    // instead of calling spark.read.parquet() with no paths, which throws
    val pruned =
      if (selected.isEmpty) spark.read.parquet(base)
      else spark.read.parquet(selected.toIndexedSeq: _*)
    pruned
      .filter(col("o_orderdate").between(lit(loTs), lit(hiTs)))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .withColumn("n_files_total", lit(manifest.length.toLong))
      .withColumn("skipped_some", lit(selected.length < manifest.length))
  }

  /** Midnight of `yyyy-MM-dd` as an explicit-UTC instant — the session
    * timezone is UTC, but `Timestamp.valueOf` would parse in the JVM
    * default zone, which no oracle-parity code may depend on. */
  private def utcTs(day: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.LocalDate.parse(day)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)

  /** Files touched by [[manifestPrunedScan]]'s window — the spec's
    * skipping assertion reads this instead of re-deriving the plan. */
  private[graft] def manifestSelectedFiles(spark: SparkSession, dir: String,
                                           lo: String, hi: String): (Int, Int) = {
    val base = ensureRangeOrders(spark, dir)
    val loTs = utcTs(lo)
    val hiTs = utcTs(hi)
    val manifest = spark.read.parquet(base)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_orderdate")).as("f_lo"), max(col("o_orderdate")).as("f_hi"))
      .collect()
    val sel = manifest.count(r =>
      !r.getTimestamp(2).before(loTs) && !r.getTimestamp(1).after(hiTs))
    (sel, manifest.length)
  }

  /** GLOBAL-ORDER layout proof as a gate query: the range layout's files,
    * ordered by their min date, must tile the timeline without overlap
    * (file i's max ≤ file i+1's min — `repartitionByRange`'s contract,
    * and the property every manifest/data-skipping scheme rests on).
    * Checked with one lag() window over the METADATA-sized per-file
    * stats (8 rows — never the data), emitted alongside full-table
    * row count + revenue so the layout is also proved lossless. The
    * oracle pins the expected file count, the sortedness verdict, and
    * recomputes the totals from the raw table. */
  def sortedLayoutProof(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ensureRangeOrders(spark, dir)
    val perFile = spark.read.parquet(base)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_orderdate")).as("f_lo"), max(col("o_orderdate")).as("f_hi"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.orderBy(col("f_lo"))
    perFile
      .withColumn("prev_hi", lag(col("f_hi"), 1).over(w))
      .agg(count(lit(1)).as("n_files"),
        min(when(col("prev_hi").isNull || col("prev_hi") <= col("f_lo"), true)
          .otherwise(false)).as("globally_sorted"),
        sum(col("n")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  val sortedLayoutProofOracleSql: String =
    s"""SELECT CAST($RangeFiles AS BIGINT) AS n_files,
               true AS globally_sorted,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders"""

  def manifestPrunedScanOracleSql(lo: String = "1998-06-01",
                                  hi: String = "1998-06-30"): String =
    s"""SELECT count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST($RangeFiles AS BIGINT) AS n_files_total,
               true AS skipped_some
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '$lo 00:00:00'
                              AND TIMESTAMP '$hi 00:00:00'"""

  /** RUNTIME BLOOM-FILTER join pruning — the row-level sibling of DPP for
    * UNPARTITIONED join keys: the creation side (orders under a selective
    * priority predicate) is aggregated into a bloom filter at runtime and
    * Catalyst injects a `might_contain` probe into the application side's
    * scan, so most lineitem rows are dropped AT THE SCAN before the join
    * shuffle ever sees them. At 100 TB this turns "shuffle the whole fact
    * table, discard 95% at the join" into "shuffle only probable
    * matches" — the semi-join reduction every warehouse engine ships.
    * Local-mode thresholds (application-side scan size, broadcast) are
    * scoped to this query and restored after; the result is materialized
    * under those confs so the optimizer rule actually fires at execution,
    * and the plan's `might_contain` presence is emitted as a verdict
    * column the oracle pins to true. Exactness is free: bloom false
    * positives are removed by the join itself. */
  def bloomPrunedJoin(spark: SparkSession, dir: String,
                      priority: String = "1-URGENT"): DataFrame = {
    val out = Artifacts.scratch(dir) + "/bloom_join_out"
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    val applied =
      try {
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        // local test files are far below the 10 GB production default —
        // the rule's economics are a cluster concern, its CORRECTNESS and
        // plan shape are what this query pins
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", (64L << 20).toString)
        // force the shuffle join the rule targets (a broadcast join
        // already ships the exact key set; bloom pruning is the
        // too-big-to-broadcast path)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val o = Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === priority)
          .select("o_orderkey", "o_orderpriority")
        val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
        val agg = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        val injected = agg.queryExecution.optimizedPlan.toString.contains("might_contain")
        agg.write.mode("overwrite").parquet(out)
        injected
      } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    spark.read.parquet(out).withColumn("bloom_applied", lit(applied))
  }

  def bloomPrunedJoinOracleSql(priority: String = "1-URGENT"): String =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               true AS bloom_applied
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '$priority'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  def zorderKeyOracleSql(bits: Int = 10): String = {
    val mask = (1 << bits) - 1
    // each shift term fully parenthesized: SQL `+` binds tighter than `<<`
    s"""SELECT event_id, ub, hb,
               CAST(list_sum([(((ub >> i) & 1) << (2 * i))
                              + (((hb >> i) & 1) << (2 * i + 1))
                              for i in range(0, $bits)]) AS BIGINT) AS zval
        FROM (SELECT event_id,
                     user_id % ${mask + 1} AS ub,
                     CAST(floor((epoch_ns(ts) // 1000) / 3600000000) AS BIGINT)
                       % ${mask + 1} AS hb
              FROM events) t
        ORDER BY event_id"""
  }

  // ---------------------------------------------------------------------
  // Cost-based optimization: ANALYZE TABLE statistics + CBO join reorder
  // (VERDICT r11 #5 — the one optimizer surface AQE doesn't cover: AQE
  // re-plans from RUNTIME shuffle sizes, so it can only fix what it has
  // already partially executed; CBO reorders the join tree BEFORE
  // execution from catalog statistics, which is what prevents a bad
  // multi-join order from being executed at all on a 100 TB fact table.)
  // ---------------------------------------------------------------------

  /** Stage the star-join tables as catalog tables WITH statistics: each
    * table is saveAsTable'd (pruned to the query's columns) and then
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` collects row
    * counts + per-column NDV/min/max into the catalog — the inputs
    * Spark's `JoinReorderDP` costs candidate orders with. Idempotent per
    * (session, corpus) like the bucketed ingest; at production scale this
    * is the nightly ANALYZE after ingest. */
  def ensureCboTables(spark: SparkSession, dir: String): Map[String, String] = {
    def stage(base: String, df: => DataFrame): (String, String) = {
      val name = taggedName(base, dir)
      ensureStagedTable(spark, dir, name) {
        df.write.mode("overwrite").saveAsTable(name)
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      base -> name
    }
    Map(
      stage("cbo_orders", Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
      stage("cbo_customer", Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey")),
      stage("cbo_nation", Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")))
  }

  /** An isolated session with CBO + stats-based join reorder ON (both
    * default off). Session-scoped so the setting never leaks into the
    * caller's other work; the catalog (tables + statistics) is shared
    * across sessions of one SparkContext. */
  private[graft] def cboSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    ss
  }

  /** The reorder-bait join, parameterized by table names so the spec can
    * run the IDENTICAL text with and without CBO: syntactically the big
    * fact (orders, 10x customer, 600x nation) is joined FIRST — the order
    * a naive query author writes — and the selective dimension chain
    * (customer -> nation) last. Left-deep syntactic execution materializes
    * the orders x customer intermediate in full; a stats-informed reorder
    * builds the tiny customer x nation side first. The join graph is a
    * chain (o—c—n), so both orders are cartesian-free and CBO's choice is
    * purely cost-driven. */
  private[graft] def cboStarJoinSql(o: String, c: String, n: String): String =
    s"""SELECT n_name, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM $o JOIN $c ON o_custkey = c_custkey
                JOIN $n ON c_nationkey = n_nationkey
        GROUP BY n_name"""

  /** X-CBO — the registered query: the star join over ANALYZEd catalog
    * tables, planned under CBO join reorder. Result is identical to the
    * plain parquet join (reorder is semantics-preserving), which is
    * exactly what the oracle pins; CboSpec separately pins that the
    * optimized join ORDER differs from the syntactic one and matches the
    * stats-informed expectation. */
  def cboStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = ensureCboTables(spark, dir)
    cboSession(spark)
      .sql(cboStarJoinSql(t("cbo_orders"), t("cbo_customer"), t("cbo_nation")))
  }

  def cboStarJoinOracleSql: String =
    """SELECT n_name, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
       FROM orders JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name"""
}
