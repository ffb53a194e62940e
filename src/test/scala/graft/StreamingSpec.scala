package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamEvent, StreamingOps}

/** Structured Streaming surface: windowed aggregation and stateful
  * sessionization driven through MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("watermarked hourly window counts aggregate a micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    input.addData(
      StreamEvent(1L, ts(5), 1L, "click", 1.0),
      StreamEvent(2L, ts(25), 1L, "click", 2.0),
      StreamEvent(3L, ts(45), 2L, "view", 3.0))
    val q = StreamingOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; push the watermark
      input.addData(StreamEvent(4L, Timestamp.valueOf("2026-01-01 14:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly_test").collect()
      val byType = rows.map(r => (r.getString(1), r.getLong(2))).toMap
      assert(byType == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("update mode GCs window state once the watermark passes (the at-scale posture)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    // graft-stream- prefix so the bench/verify scratch sweep collects it
    val ckpt = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-stream-update-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    input.addData(StreamEvent(1L, ts(5), 1L, "click", 1.0))
    val q = StreamingOps.hourlyCountsUpdate(input.toDF(), ckpt) { (batch, _) =>
      seen.synchronized { seen ++= batch.collect() }
    }
    try {
      q.processAllAvailable()
      // jump event time 10 h ahead: the 2 h watermark passes the 10:00 window
      input.addData(StreamEvent(2L, Timestamp.valueOf("2026-01-01 20:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // one more batch so the store applies the advanced watermark
      input.addData(StreamEvent(3L, Timestamp.valueOf("2026-01-01 20:30:00"), 1L, "view", 1.0))
      q.processAllAvailable()
      val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "watermark-expired window state was never removed")
      // the expired 10:00 window must be gone from the live state rows
      val lastTotal = q.recentProgress.last.stateOperators.map(_.numRowsTotal).sum
      assert(lastTotal == 2, s"expected only the two live 20:00 windows in state, got $lastTotal")
      // update mode emitted each changed window, including the pre-GC one
      assert(seen.synchronized(seen.exists(_.getString(1) == "click")))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
  }

  test("a row older than the watermark is dropped and counted, not aggregated") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    input.addData(StreamEvent(1L, ts(5), 1L, "click", 1.0))
    val q = StreamingOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("late_drop_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past 10:00 (2h delay => watermark ~18:00)
      input.addData(StreamEvent(2L, Timestamp.valueOf("2026-01-01 20:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // this event is hours behind the watermark: it must be DROPPED
      input.addData(StreamEvent(3L, ts(10), 9L, "late", 99.0))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, "late row was not dropped by the watermark")
      // ...and must never surface in any emitted window
      input.addData(StreamEvent(4L, Timestamp.valueOf("2026-01-02 09:00:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      assert(!spark.table("late_drop_test").collect().exists(_.getString(1) == "late"))
    } finally q.stop()
  }

  test("watermark-bounded streaming dedup drops re-ingests inside the window and GCs state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    // dedup key = event_id; watermark 1 h bounds the dedup state window
    val deduped = input.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode("append").start()
    try {
      input.addData(StreamEvent(1L, ts(0), 1L, "click", 1.0),
        StreamEvent(1L, ts(5), 1L, "click", 1.0)) // same-batch re-ingest
      q.processAllAvailable()
      input.addData(StreamEvent(1L, ts(10), 1L, "click", 1.0)) // in-window re-ingest
      q.processAllAvailable()
      // jump event time far past the watermark window, then re-ingest id 1:
      // its dedup state has been GC'd, so the duplicate is ACCEPTED again —
      // the explicit trade of bounded state for windowed (not global) dedup
      input.addData(StreamEvent(2L, Timestamp.valueOf("2026-01-02 10:00:00"), 1L, "view", 1.0))
      q.processAllAvailable()
      input.addData(StreamEvent(1L, Timestamp.valueOf("2026-01-02 10:30:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_wm_test").collect().map(_.getLong(0)).toSeq
      assert(ids.count(_ == 1L) == 2, s"expected id 1 once per window, got $ids")
      assert(ids.count(_ == 2L) == 1)
      val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "dedup state was never GC'd by the watermark")
    } finally q.stop()
  }

  test("bounded streaming dedup: same distinct set, state capped at the re-ingest window") {
    // The production variant of q_stream_dedup: the watermark must BOUND
    // the dedup state instead of accumulating every fingerprint forever.
    // Ingest ts = 1 doc/second by doc_id, delay 60 s → after the final
    // no-data batch advances the watermark to max(ts) − 60 s, only
    // fingerprints first seen in the last ~2×60 s may remain. The
    // unbounded twin would hold the FULL distinct set here.
    val (out, stateRows) =
      graft.streaming.StreamingOps.streamDedupBoundedWithMetrics(spark, TestSpark.sf)
    val expected = Tables.documents(spark, TestSpark.sf)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp")).distinct()
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
    val nDistinct = expected.count()
    assert(stateRows >= 0, "no state metrics reported")
    assert(stateRows <= 130,
      s"state held $stateRows rows — more than the 2x60s re-ingest window")
    assert(stateRows < nDistinct,
      s"state held the full distinct set ($stateRows of $nDistinct) — not bounded")
  }

  test("stream-static enrichment equals its batch twin") {
    import org.apache.spark.sql.functions.{count => cnt, lit, sum => sm}
    val got = StreamingOps.streamEnrichEndToEnd(spark, TestSpark.sf)
    val want = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
      .join(Tables.customer(spark, TestSpark.sf)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(cnt(lit(1)).as("n_events"),
        sm(col("v")).cast("double").as("total_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stream-static join re-plans the static side: a dim refresh is visible mid-stream") {
    // Pins the claim streamEnrich/streamTemporalJoin rely on: the static
    // side of a stream-static join is re-read at every micro-batch, so a
    // dimension refreshed between batches affects later batches only.
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "replantest").toString
    val spark0 = spark
    import spark0.implicits._
    // 3 single-row stream files -> 3 micro-batches (maxFilesPerTrigger=1).
    // The file source wants FLAT files in the watch dir, so copy each
    // write's part file out of its directory.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/in"))
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"evt$i")).toDF("k", "payload")
        .write.parquet(s"$out/stage$i")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$out/stage$i"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(s"$out/in/f$i.parquet"))
    }
    def writeDim(version: Int): Unit =
      Seq((1L, version), (2L, version), (3L, version)).toDF("k", "dim_version")
        .write.mode("overwrite").parquet(s"$out/dim")
    writeDim(0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$out/in")
      .writeStream
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // join against the CURRENT dim table (planned fresh per batch)
        val dim = spark.read.parquet(s"$out/dim")
        val rows = batch.join(dim, "k")
          .select(col("k"), col("dim_version")).collect()
        seen.synchronized { rows.foreach(r => seen += ((id, r.getInt(1)))) }
        writeDim(id.toInt + 1) // refresh the dim AFTER this batch
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.size == 3, s"expected 3 single-row batches, got $seen")
    // batch i must see dim version i — each refresh lands in the NEXT
    // batch, proving the static side is re-planned per micro-batch
    seen.foreach { case (id, v) =>
      assert(v == id, s"batch $id saw dim version $v: $seen")
    }
    // local recursive cleanup (children before parents)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try {
      import scala.jdk.CollectionConverters._
      walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    } finally walk.close()
  }

  test("streaming CMS merge equals the one-shot batch sketch output") {
    val got = StreamingOps.streamCmsEndToEnd(spark, TestSpark.sf)
    val want = graft.operators.TextAnalysis.cmsTokenCounts(spark, TestSpark.sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // mergeability is exact, not approximate: two half-corpus sketches
    // merged counter-wise estimate every probe identically to one shot
    val tok = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
    val oneShot = tok.stat.countMinSketch(col("token"), 0.0001, 0.99, 42)
    val h1 = tok.filter(col("doc_id") % 2 === 0)
      .stat.countMinSketch(col("token"), 0.0001, 0.99, 42)
    val h2 = tok.filter(col("doc_id") % 2 =!= 0)
      .stat.countMinSketch(col("token"), 0.0001, 0.99, 42)
    h1.mergeInPlace(h2)
    val probes = tok.select("token").distinct().limit(50).collect().map(_.getString(0))
    probes.foreach { t =>
      assert(h1.estimateCount(t) == oneShot.estimateCount(t), s"probe $t drifted")
    }
    assert(h1.totalCount() == oneShot.totalCount())
  }

  test("streaming temporal join equals its batch twin exactly") {
    val got = StreamingOps.streamTemporalJoinEndToEnd(spark, TestSpark.sf)
    val want = graft.operators.AsofJoin.temporalJoin(spark, TestSpark.sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming near-dup equals the batch incremental flow exactly") {
    val got = StreamingOps.streamNearDupEndToEnd(spark, TestSpark.sf)
    val want = graft.operators.Dedup.nearDupNewVsCorpus(spark, TestSpark.sf)
    assert(got.count() > 0, "expected near-dup pairs in the replay")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("restart from the same checkpoint reprocesses nothing (exactly-once source tracking)") {
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-stream-restart").toString
    val watch = java.nio.file.Paths.get(out, "in")
    java.nio.file.Files.createDirectories(watch)
    java.nio.file.Files.createSymbolicLink(
      watch.resolve("events.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001", "events.parquet"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(watch.toString)
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          delivered.addAndGet(batch.count()): Unit
        }
        .start()
      q.awaitTermination()
    }
    try {
      runOnce()
      val afterFirst = delivered.get()
      assert(afterFirst == Tables.events(spark, "/root/testdata/sf0.001").count())
      // same checkpoint, same input: the source's committed offsets make
      // the restart a no-op — nothing is re-delivered to the sink
      runOnce()
      assert(delivered.get() == afterFirst,
        s"restart re-delivered ${delivered.get() - afterFirst} rows")
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
  }

  test("native streaming session windows equal the batch sessions closed by the final watermark") {
    val sf001 = "/root/testdata/sf0.001"
    val streamed = StreamingOps.sessionWindowStreamEndToEnd(spark, sf001)
    val maxUs = Tables.events(spark, sf001)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")))).head().getLong(0)
    val batchClosed = graft.operators.Analytics.sessionWindowAgg(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("session_end_us") < maxUs)
    assert(streamed.exceptAll(batchClosed).isEmpty
      && batchClosed.exceptAll(streamed).isEmpty)
    // the holdback is real: at least one session stays open at end-of-stream
    assert(graft.operators.Analytics.sessionWindowAgg(spark, sf001).count()
      > streamed.count())
  }

  test("stream-stream interval self-join equals its batch twin") {
    val got = StreamingOps.streamStreamJoinEndToEnd(spark, TestSpark.sf)
    val e = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val want = e.as("l").join(e.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.us") < col("l.us") &&
          col("r.us") >= col("l.us") - lit(30L * 60 * 1000000))
      .select(col("l.event_id").as("event_id"),
        col("r.event_id").as("prior_event_id"),
        (col("l.us") - col("r.us")).as("gap_us"))
    assert(got.count() > 0, "expected interval-join pairs in the replay")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stream-stream LEFT OUTER join equals its watermark-gated batch twin") {
    val got = StreamingOps.streamStreamLeftOuterEndToEnd(spark, TestSpark.sf)
    val e = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val matched = e.as("l").join(e.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.us") < col("l.us") &&
          col("r.us") >= col("l.us") - lit(30L * 60 * 1000000))
      .select(col("l.event_id").as("event_id"),
        col("r.event_id").as("prior_event_id"),
        (col("l.us") - col("r.us")).as("gap_us"))
    val wmUs = e.agg(max("us")).head().getLong(0) - 3600000000L
    val unmatched = e.as("l").join(e.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.us") < col("l.us") &&
          col("r.us") >= col("l.us") - lit(30L * 60 * 1000000), "left_anti")
      .filter(col("us") < wmUs)
      .select(col("event_id"), lit(null).cast("long").as("prior_event_id"),
        lit(null).cast("long").as("gap_us"))
    val want = matched.unionAll(unmatched)
    // sanity: the outer arm really added null rows beyond the inner join
    assert(got.filter(col("prior_event_id").isNull).count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("scratch sweep predicate: own dirs and dead-pid dirs sweep, live and foreign don't") {
    import graft.streaming.StreamingOps.{isSweepableScratch, ScratchPrefix}
    // this JVM's dirs are always sweepable
    assert(isSweepableScratch(ScratchPrefix + "hourly"))
    // another LIVE pid's dirs are protected (pid 1 is always alive)
    assert(!isSweepableScratch("graft-stream-1-hourly"))
    // a DEAD pid's residue is reclaimed (max pid is bounded well below this)
    assert(isSweepableScratch("graft-stream-999999999-hourly"))
    // non-graft entries and malformed names are never touched
    assert(!isSweepableScratch("systemd-private-xyz"))
    assert(!isSweepableScratch("graft-stream-notapid"))
  }

  test("multi-stateful pipeline (join -> window agg) equals its watermark-gated batch twin") {
    val got = StreamingOps.streamJoinAggEndToEnd(spark, TestSpark.sf)
    val e = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val wmUs = e.agg(max("us")).head().getLong(0) - 3600000000L
    val want = e.as("l").join(e.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.us") < col("l.us") &&
          col("r.us") >= col("l.us") - lit(30L * 60 * 1000000))
      .select((floor(col("l.us") / 3600000000L).cast("long") * 3600000000L)
        .as("hour_start_us"))
      .groupBy("hour_start_us").agg(count(lit(1)).as("n_pairs"))
      .filter(col("hour_start_us") + 3600000000L <= wmUs)
    assert(got.count() > 0, "expected closed hour windows in the replay")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming exact dedup emits each distinct fingerprint exactly once") {
    val got = StreamingOps.streamDedupEndToEnd(spark, TestSpark.sf)
    val want = Tables.documents(spark, TestSpark.sf)
      .select(md5(col("text")).as("fp")).distinct()
    assert(got.count() == got.select("fp").distinct().count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("advanceSession: batched replay matches one-shot exactly and compaction bounds the buffer") {
    import graft.streaming.{CompactEvent, SessionState}
    val min = 60L * 1000000
    val gapUs = 30 * min
    // one user: a 2 h session (25 events @5 min), 40 min silence, a 1 h
    // session (13 events), 50 min silence, a 3-event tail
    val evs = ((0 until 25).map(i => i * 5 * min)
      ++ (0 until 13).map(i => 160 * min + i * 5 * min)
      ++ (0 until 3).map(i => 270 * min + i * 5 * min))
      .map(us => CompactEvent(us, 1.5)).toList
    // replay in batches of `size`; watermark = (max event time seen in
    // PRIOR batches) - 1 h, exactly Spark's per-batch watermark semantics
    def replay(size: Int): (List[(Long, Long, Long, Double)], Int, Long) = {
      var st: Option[SessionState] = None
      var out = List.empty[(Long, Long, Long, Double)]
      var maxSeen = 0L
      var maxBuf = 0
      var maxFolded = 0L
      evs.grouped(size).foreach { batch =>
        val wm = math.max(0L, maxSeen - 60 * min)
        val (ns, closed) = graft.streaming.StreamingOps.advanceSession(st, batch, wm, hasTimedOut = false, gapUs)
        st = ns; out ++= closed
        maxBuf = math.max(maxBuf, ns.map(_.recent.size).getOrElse(0))
        maxFolded = math.max(maxFolded, ns.map(_.aggN).getOrElse(0L))
        maxSeen = math.max(maxSeen, batch.map(_.us).max)
      }
      // event-time timeout fires once the watermark passes the open gap
      val (fin, closed) = graft.streaming.StreamingOps.advanceSession(st, Nil, maxSeen + gapUs, hasTimedOut = true, gapUs)
      assert(fin.isEmpty)
      (out ++ closed, maxBuf, maxFolded)
    }
    val (oneShot, _, oneFolded) = replay(evs.size)
    val (batched, batchedBuf, batchedFolded) = replay(4)
    assert(batched == oneShot) // exact doubles: fold order is identical
    assert(oneShot.map(s => (s._3, s._4)) == List((25L, 37.5), (13L, 19.5), (3L, 4.5)))
    // single batch sees watermark 0: nothing folds (the oracle-replay path)
    assert(oneFolded == 0L)
    // batched replay folds the watermark-old prefix of the open session:
    // the buffer never holds the whole 25-event session, only the 1 h
    // window (12 events @5 min) plus the arriving batch
    assert(batchedFolded > 0L, "compaction never folded anything")
    assert(batchedBuf <= 17, s"compacted state should stay within the 1 h window + batch, got $batchedBuf")
    assert(batchedBuf < 25, s"buffer should never hold the longest session, got $batchedBuf")
  }

  test("gap sessionization closes sessions across the gap and keeps state for open ones") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    // user 1: two events 10 min apart (one session), then 90 min silence,
    // then another event -> first session closes when the gap is exceeded.
    input.addData(
      StreamEvent(1L, ts(0), 1L, "click", 1.0),
      StreamEvent(2L, ts(10), 1L, "click", 2.0))
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(StreamEvent(3L, Timestamp.valueOf("2026-01-01 11:40:00"), 1L, "click", 3.0))
      q.processAllAvailable()
      input.addData(StreamEvent(4L, Timestamp.valueOf("2026-01-01 15:00:00"), 2L, "view", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions_test").as[graft.streaming.UserSession].collect()
      val closed = sessions.find(s => s.user_id == 1L && s.n_events == 2L)
      assert(closed.isDefined, s"expected the 2-event session to close, got ${sessions.mkString(";")}")
      assert(closed.get.session_start == ts(0) && closed.get.session_end == ts(10))
      assert(closed.get.total_value == 3.0)
    } finally q.stop()
  }

  test("micro-batched streaming upsert equals the batch merge, over multiple batches") {
    val (streamed, nBatches) = StreamingOps.streamUpsertWithMetrics(spark, TestSpark.sf)
    assert(nBatches >= 2,
      s"maxFilesPerTrigger=1 over a 4-file delta should replay incrementally, got $nBatches batches")
    val batch = graft.operators.Curation.corpusMerge(spark, TestSpark.sf)
      .select("doc_id", "lang", "fp")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the micro-batched upsert must converge to the batch merge")
  }

  test("streaming CDC apply converges to the batch op-log result despite shuffled replay") {
    val streamed = StreamingOps.streamCdcEndToEnd(spark, TestSpark.sf)
    val batch = graft.operators.Curation.cdcApply(spark, TestSpark.sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "out-of-order micro-batched CDC must land on the batch latest-op-wins fixpoint")
    // tombstoned keys really are gone from the final view
    import org.apache.spark.sql.functions.col
    val deleted = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 17 === 5).select("doc_id")
    assert(streamed.join(deleted, "doc_id").count() == 0,
      "deleted keys must not surface in the final state")
  }

  test("checkpoint restart: new query resumes incrementally and lands on the batch aggregate") {
    val (result, p2Rows, lateRows) =
      StreamingOps.streamRestartWithMetrics(spark, TestSpark.sf)
    // the restarted instance read ONLY the late files — not a full replay
    assert(p2Rows == lateRows && lateRows > 0,
      s"phase-2 read $p2Rows rows, expected exactly the $lateRows late rows")
    val batch = graft.operators.Analytics.hourlyEvents(spark, TestSpark.sf)
    val streamed = result.drop("resumed_incremental")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "recovered aggregation state must reproduce the batch hourly counts")
  }

  test("exactly-once sink: redelivered batches leave no duplicates across >= 2 batches") {
    val (audit, nBatches) =
      StreamingOps.streamExactlyOnceWithMetrics(spark, TestSpark.sf)
    val row = audit.collect().head
    assert(nBatches >= 2, s"replay must span multiple micro-batches, got $nBatches")
    assert(row.getAs[Boolean]("dup_free"),
      "idempotent per-batchId overwrite must absorb the redelivery")
    val total = Tables.events(spark, TestSpark.sf).count()
    assert(row.getAs[Long]("n_rows") == total,
      s"sink holds ${row.getAs[Long]("n_rows")} rows, corpus has $total")
  }

  test("late audit: state-store drop metric equals the sink-derived drop count, both cohorts non-empty") {
    val (result, nLateDropped, wmDroppedMetric) =
      StreamingOps.streamLateAuditWithMetrics(spark, TestSpark.sf)
    // the engine's own numRowsDroppedByWatermark must agree with what the
    // sink actually lost — a mismatch means the audit arithmetic and the
    // state store disagree about the drop rule
    assert(wmDroppedMetric == nLateDropped,
      s"state store dropped $wmDroppedMetric, sink arithmetic says $nLateDropped")
    // the 15-day watermark must land mid-cohort: rows on BOTH sides of
    // the line, or the drop-rule pin is vacuous
    val nLate = Tables.events(spark, TestSpark.sf)
      .filter(col("event_id") % 10 === 0).count()
    assert(nLateDropped > 0, "no late row was dropped - watermark never engaged")
    assert(nLateDropped < nLate,
      s"all $nLate late rows dropped - no accepted cohort, rule half-pinned")
    // accepted late rows really landed: total kept == corpus - dropped
    val kept = result.agg(org.apache.spark.sql.functions.sum(col("n_events")))
      .head().getLong(0)
    val corpus = Tables.events(spark, TestSpark.sf).count()
    assert(kept == corpus - nLateDropped,
      s"kept $kept, expected ${corpus - nLateDropped}")
  }

  test("streaming data card: accretes over multiple batches, final state equals batch card") {
    val (card, nBatches) = graft.streaming.StreamingOps
      .streamDataCardWithMetrics(spark, TestSpark.sf)
    assert(nBatches > 1, s"expected a multi-batch replay, got $nBatches batch(es)")
    val got = card.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens")))
      .toMap
    val want = graft.operators.Curation.dataCard(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(got == want, "streaming composition must equal the batch data card's counts")
  }

  test("streaming image dedup equals a batch brute force over the same split") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamingOps
      .streamImageDedupEndToEnd(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val splitFrom = graft.Tables.documents(spark, TestSpark.sf)
      .agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
    val ph = graft.operators.Multimodal.perceptualHash(spark, TestSpark.sf)
    val n = ph.filter(col("doc_id") >= splitFrom)
      .select(col("doc_id").as("a"), col("phash_hi").as("ha"), col("phash_lo").as("la"))
    val c = ph.filter(col("doc_id") < splitFrom)
      .select(col("doc_id").as("b"), col("phash_hi").as("hb"), col("phash_lo").as("lb"))
    val brute = n.crossJoin(c)
      .select(col("a"), col("b"),
        (expr("bit_count(ha ^ hb)") + expr("bit_count(la ^ lb)")).cast("long").as("d"))
      .filter(col("d") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"stream missed/invented pairs: missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(got.nonEmpty, "fixture should contain cross-split image near-dups")
  }
  test("streaming ANN serving: ranked per new vector, neighbors only from the indexed corpus") {
    val r = graft.streaming.StreamingOps.streamAnnEndToEnd(spark, TestSpark.sf)
    val split = graft.Tables.embeddings(spark, TestSpark.sf)
      .agg(max(col("vec_id"))).head().getLong(0) * 9 / 10
    assert(r.count() > 0, "the new decile must get answers")
    // queries are new-decile vectors; neighbors come only from the index
    assert(r.filter(col("query_id") < split).isEmpty)
    assert(r.filter(col("neighbor_id") >= split).isEmpty)
    // ranks are unique 1..k per query and sims are non-increasing in rank
    assert(r.groupBy("query_id", "rank").count().filter(col("count") > 1).isEmpty)
    val bad = r.as("a").join(r.as("b"),
      col("a.query_id") === col("b.query_id") &&
        col("a.rank") < col("b.rank") && col("a.sim") < col("b.sim"))
    assert(bad.isEmpty, "sim must be non-increasing in rank")
  }

}
