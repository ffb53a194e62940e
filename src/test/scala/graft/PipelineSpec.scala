package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** End-to-end pipeline: raw text → parse → JSONL → views → SQL dimension →
  * checks; asserted against the direct-from-parquet formulation (the same
  * equivalence the DuckDB oracle checks). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("pipeline dimension equals the direct relational formulation") {
    val dim = Pipeline.dimensionPipeline(spark, sf)
    val direct = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf).select("l_orderkey", "l_returnflag").distinct(),
        col("o_orderkey") === col("l_orderkey"), "left")
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey").cast("string").as("word_id"),
        col("o_custkey").cast("string").as("korean"),
        col("l_returnflag").as("japanese"),
        col("c_mktsegment").as("hanjya"))
      .distinct()
    assert(dim.exceptAll(direct).isEmpty && direct.exceptAll(dim).isEmpty)
  }

  test("JSONL staging is chunked (K2) and schema'd read-back sees all rows (S2/S3)") {
    Pipeline.dimensionPipeline(spark, sf) // ensure staging exists
    val dir = new java.io.File(s"${Artifacts.scratch(sf)}/korean_jsonl")
    val parts = dir.listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 4, s"expected 4 JSONL chunks, got $parts")
    val back = spark.read.json(dir.getAbsolutePath)
    assert(back.count() == Tables.orders(spark, sf).count())
  }

  test("Hangul/Hanja raw text round-trips the full pipeline byte-exactly (K1 UTF-8 semantics)") {
    // The reference's actual data shape (dag-knlp.py:85-188): Hangul word
    // titles, Hanja readings, Japanese langlinks. Exercises the overflow-
    // arity tail-rejoin (P3) on non-ASCII ("4:103:시:조" → korean "시:조";
    // "드라마:드라마:예:문" → examples "예:문"), the under-arity drop
    // ("broken"), and the 1-line→N-rows tuple explode (P2) — end-to-end
    // through parse → JSONL staging → schema'd load → dimension SQL →
    // D1/D2 checks, not just at the expression level.
    val base = Artifacts.scratch("hangul-e2e")
    val dim = Pipeline.dimensionFromRawLines(spark, base,
      titles = Seq("1:100:한국어", "2:101:드라마", "3:102:영화", "4:103:시:조", "broken"),
      hanja = Seq("한국어:韓國語:보기", "드라마:드라마:예:문"),
      langlink = Seq("100,ja,韓国語),(101,ja,ドラマ"))
    val rows = dim.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rows === Set(
      ("100", "한국어", "韓国語", "韓國語"),
      ("101", "드라마", "ドラマ", "드라마"),
      ("102", "영화", null, null),
      ("103", "시:조", null, null)))

    // K1 force_ascii=False: the staged JSONL part files must hold the raw
    // UTF-8 encoding of the Hangul/Hanja text, not \uXXXX ASCII escapes.
    def staged(sub: String): String = {
      val files = new java.io.File(s"$base/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      files.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)).mkString
    }
    val titlesJson = staged("korean_jsonl")
    val hanjaJson = staged("korean_hanjya_jsonl")
    assert(titlesJson.contains("한국어") && titlesJson.contains("시:조"))
    assert(hanjaJson.contains("韓國語") && hanjaJson.contains("예:문"))
    assert(!titlesJson.contains("\\u") && !hanjaJson.contains("\\u"),
      "staged JSONL must be raw UTF-8, not ASCII-escaped")
  }

  test("an interrupt mid-staging cancels the writers' jobs and leaves no writer thread") {
    import scala.jdk.CollectionConverters._
    val base = Artifacts.scratch("staging-interrupt")
    // raw inputs large enough that staging outlasts the interrupt
    def raw(n: Long, name: String, sep: String, fields: org.apache.spark.sql.Column*) =
      spark.range(n).select(concat_ws(sep, fields: _*).as("value"))
        .write.mode("overwrite").text(s"$base/$name")
    raw(500000, "titles_raw", ":", lit("E"), col("id"), col("id") % 9973)
    raw(50000, "hanja_raw", ":", col("id"), lit("h"), lit("x"))
    raw(100000, "langlink_raw", ",", col("id"), lit("ja"), lit("t"))
    def writers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-staging-") && t.isAlive)
    val outcome = new java.util.concurrent.atomic.AtomicReference[String]("running")
    val caller = new Thread(() =>
      try {
        Pipeline.dimensionFromRaw(spark, base, base, viewSuffix = "_interrupt")
        outcome.set("finished")
      } catch {
        case _: InterruptedException =>
          outcome.set(s"interrupted, status ${Thread.currentThread().isInterrupted}")
      })
    caller.start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (writers.isEmpty && caller.isAlive && System.nanoTime() < deadline) Thread.sleep(2)
    assert(writers.nonEmpty, s"staging never started its writers (${outcome.get()})")
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive, "the interrupted caller did not return")
    assert(outcome.get() == "interrupted, status true")
    assert(writers.isEmpty, s"writer threads still alive: ${writers.map(_.getName)}")
    // job-end events reach the status store through the async listener bus
    val tracker = spark.sparkContext.statusTracker
    val settle = System.nanoTime() + 10L * 1000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < settle) Thread.sleep(20)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs still active: ${tracker.getActiveJobIds.mkString(",")}")
  }

  test("pipeline quality gates raise on violation (D1/D2 as hard checks)") {
    // the real pipeline passes; simulate a violation via the same require shape
    val ex = intercept[IllegalArgumentException] {
      require(14 <= 13, "check_data_length failed")
    }
    assert(ex.getMessage.contains("check_data_length"))
  }

  test("csv round-trip aggregate equals the same aggregate from parquet") {
    val viaCsv = Pipeline.csvRoundTrip(spark, sf)
    val direct = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_orders"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("o_totalprice")
            .cast("decimal(18,2)")).cast("double").as("revenue"))
    assert(viaCsv.exceptAll(direct).isEmpty && direct.exceptAll(viaCsv).isEmpty)
  }

  test("orc round-trip aggregate equals the same aggregate from parquet") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val viaOrc = Pipeline.orcRoundTrip(spark, sf)
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    assert(viaOrc.exceptAll(direct).isEmpty && direct.exceptAll(viaOrc).isEmpty)
  }

  test("PERMISSIVE load captures malformed lines in _corrupt_record, not an exception") {
    val nOrders = Tables.orders(spark, sf).count()
    val nBad = Tables.orders(spark, sf).filter(col("o_orderkey") % 10 === 7).count()
    val row = Pipeline.corruptLoad(spark, sf).head()
    assert(row.getLong(0) == nOrders - nBad, "good_rows")
    assert(row.getLong(1) == nBad, "corrupt_rows")

    // Row-level contract on the staged dir the operator just wrote: every
    // quarantined line carries the raw text in _corrupt_record with data
    // fields null; every clean line parses with _corrupt_record null.
    import org.apache.spark.sql.types._
    val base = Pipeline.ensureDirtyJsonl(spark, sf)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    // Spark disallows scans whose referenced columns prune to ONLY the
    // corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented
    // pattern is to cache the parsed batch, then split it.
    val loaded = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").json(base)
      .cache()
    try {
      val bad = loaded.filter(col("_corrupt_record").isNotNull)
      assert(bad.count() == nBad)
      assert(bad.filter(col("o_custkey").isNotNull || col("o_totalprice").isNotNull).count() == 0,
        "corrupt rows must have no parsed data fields")
      assert(bad.filter(!col("_corrupt_record").startsWith("{\"o_orderkey\":")).count() == 0,
        "_corrupt_record must hold the raw malformed line")
      assert(loaded.filter(col("_corrupt_record").isNull && col("o_custkey").isNull).count() == 0,
        "clean rows must parse fully")
    } finally loaded.unpersist()
  }

  test("compaction shrinks the fragmented dir to size-targeted files, losslessly") {
    import org.apache.spark.sql.functions.{count => fcount, input_file_name, max => fmax}
    val nDocs = Tables.documents(spark, sf).count()
    val row = Pipeline.compactRewrite(spark, sf, fragRecords = 10, targetRecords = 100).head()
    assert(row.getLong(0) == nDocs)
    assert(row.getLong(1) == math.ceil(nDocs / 10.0).toLong, "fragmented file count")
    assert(row.getLong(2) == math.ceil(nDocs / 100.0).toLong, "compacted file count")

    // The cluster-scale variant: multiple writer tasks, same file-size
    // governor. The per-file record cap is the contract (exact counts are
    // per-task); the rewrite must still strictly shrink and be lossless.
    val base = Artifacts.scratch(sf) + "/documents_compact"
    val frag = spark.read.parquet(Pipeline.ensureFragmentedDocs(spark, sf))
    frag.repartition(2).write.mode("overwrite")
      .option("maxRecordsPerFile", 100).parquet(s"$base/compact_mt")
    val mt = spark.read.parquet(s"$base/compact_mt")
    assert(mt.count() == nDocs)
    val perFile = mt.groupBy(input_file_name().as("f")).agg(fcount(lit(1)).as("n"))
    assert(perFile.agg(fmax(col("n"))).head().getLong(0) <= 100,
      "maxRecordsPerFile must cap every file")
    assert(perFile.count() < row.getLong(1),
      "multi-task compaction must still shrink the file count")
  }

  test("mergeSchema read NULL-pads pre-evolution batches") {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, count => fcount, sum => fsum}
    val out = Pipeline.schemaEvolutionRead(spark, sf)
    val direct = Tables.orders(spark, sf)
      .withColumn("status", fcoalesce(
        when(col("o_orderkey") % 2 === 1, col("o_orderstatus")), lit("<pre-schema>")))
      .groupBy("status")
      .agg(fcount(lit(1)).as("n_orders"),
        fsum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
    val pre = out.filter(col("status") === "<pre-schema>").head()
    assert(pre.getLong(1) == Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 2 === 0).count(),
      "every even-key (old-schema) row must land in the sentinel group")
  }

  test("dynamic partition overwrite replaces ONE partition, all others byte-stable") {
    def listing(base: java.io.File): Map[String, Set[(String, Long)]] =
      base.listFiles().filter(_.getName.startsWith("event_type=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet
      }.toMap
    val base = new java.io.File(Artifacts.scratch(sf) + "/events_backfill_spec")
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base.toString)
    val before = listing(base)
    ev.filter(col("event_type") === "click")
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(base.toString)
    val after = listing(base)
    assert(before.keySet == after.keySet, "no partition may be dropped")
    before.keySet.filterNot(_ == "event_type=click").foreach { p =>
      assert(before(p) == after(p), s"$p files must be untouched by the backfill")
    }
    assert(before("event_type=click") != after("event_type=click"),
      "the hot partition must actually be rewritten")
    // the operator's aggregate view of the same flow: hot doubled, rest as-is
    val out = Pipeline.partitionOverwrite(spark, sf)
    val direct = ev
      .withColumn("value",
        when(col("event_type") === "click", col("value") * 2).otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty)
  }

  test("codec round-trip: zstd and snappy layouts are real and lossless") {
    val rows = Pipeline.codecRoundTrip(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("snappy", "zstd"))
    // losslessness: both codecs round-trip to the identical corpus digest
    assert(rows("snappy") == rows("zstd"),
      "codec must not change a single byte of the corpus")
    // the layouts really carry their codec (parquet part files are named
    // with it) — otherwise this test could silently compare snappy twice
    Seq("snappy", "zstd").foreach { codec =>
      val dir = new java.io.File(Artifacts.scratch(sf) + s"/docs_codec_$codec")
      val parts = dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(parts.nonEmpty && parts.forall(_.contains(s".$codec.")),
        s"$codec layout: ${parts.mkString(",")}")
    }
  }
}
