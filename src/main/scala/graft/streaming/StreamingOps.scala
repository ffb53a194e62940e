package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Event for typed streaming ops (mirrors the `events` table schema). */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)

/** One closed user session emitted by [[StreamingOps.sessionize]]. */
case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                       session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

/** Compact (epoch-micros, value) event buffered in open-session state —
  * ts/value are all sessionization reads, so the state never carries the
  * full event row. */
case class CompactEvent(us: Long, value: Double)

/** Open-session state for [[StreamingOps.sessionize]] (VERDICT r5 #5):
  * the session's watermark-OLD prefix lives as a closed-form aggregate
  * (aggStartUs..aggLastUs, aggN, aggSum; aggN == 0 = nothing folded yet)
  * and only watermark-RECENT events stay buffered in `recent`. No future
  * event can sort into the folded prefix (anything older than the
  * watermark is dropped before the operator), so folding is lossless —
  * and state per user is O(watermark window), not O(open session length):
  * a bot session spanning weeks holds a 4-field aggregate plus the last
  * 2 h of events instead of the whole event list. */
case class SessionState(aggStartUs: Long, aggLastUs: Long, aggN: Long,
                        aggSum: Double, recent: List[CompactEvent])

/** Structured Streaming surface (the brief's stream path; the reference is
  * batch-only, SURVEY.md §1.6, so this is [EXT]): file-source readStream →
  * watermarked tumbling-window aggregates → custom session state via
  * `flatMapGroupsWithState`.
  *
  * The same aggregate shapes run in batch (`Analytics.hourlyEvents`) —
  * Structured Streaming's contract is exactly that reuse: the logical plan
  * is identical, the engine adds incremental state + watermark GC.
  *
  * Scale notes: state is keyed by (window, event_type) / user_id, both
  * high-cardinality-partitionable; the 2h watermark bounds state size —
  * without it a 100 TB/day stream would accumulate state forever.
  */
object StreamingOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** S-stream source: directory of parquet event files consumed
    * incrementally (`readStream` needs an explicit schema). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Per-PROCESS scratch prefix for streaming checkpoint/sink dirs: the
    * pid in the name lets Bench's residue sweep target only dirs THIS
    * JVM created — a concurrent test/verify process on the same machine
    * must never lose its live checkpoints to another process's cleanup. */
  private[graft] val ScratchPrefix = s"graft-stream-${ProcessHandle.current().pid()}-"

  /** Is a /tmp entry named `name` sweepable scratch? Our OWN dirs always
    * are (the harnesses have finished with them between bench queries);
    * another pid's `graft-stream-<pid>-…` dirs only once that pid is DEAD
    * — live concurrent runs keep their checkpoints, while residue from
    * SIGKILLed runs (whose shutdown hooks never fired) still gets
    * reclaimed instead of accumulating forever. */
  private[graft] def isSweepableScratch(name: String): Boolean =
    if (name.startsWith(ScratchPrefix)) true
    else if (name.startsWith("graft-stream-")) {
      val pidPart = name.stripPrefix("graft-stream-").takeWhile(_.isDigit)
      pidPart.nonEmpty &&
        scala.util.Try(ProcessHandle.of(pidPart.toLong))
          .map(h => !h.isPresent || !h.get().isAlive).getOrElse(false)
    } else false

  private def scratchDir(name: String): String =
    java.nio.file.Files.createTempDirectory(ScratchPrefix + name).toString

  /** State-store parallelism for the bounded replays: a streaming query's
    * shuffle-partition count is captured at FIRST run, pinned into the
    * checkpoint, and becomes the state store's partition count for the
    * query's lifetime — so it must be sized to the stream's key
    * cardinality and throughput, not inherited from the batch shuffle
    * default. Every state partition costs per-batch store open/commit/
    * delta-file overhead (× number of stateful operators, × four stores
    * per stream-stream join side); measured 7.6 s → 5.2 s at sf0.1 on the
    * interval join going 32 → 8, and r12 applied the same sizing to every
    * stateful harness (VERDICT r11 #1). At production scale this number
    * is derived from key cardinality / target per-partition state size —
    * the point is that it is a DELIBERATE per-stream choice, decoupled
    * from the session's batch shuffle setting. */
  private[graft] val DefaultStatePartitions = 8

  /** An isolated session for one streaming run, state sized per
    * [[DefaultStatePartitions]]: `newSession` shares the SparkContext
    * (executors, block manager, cached artifacts on disk) but scopes the
    * shuffle-partition override to this stream — the caller's batch work
    * keeps its own setting. ALL frames of the streaming query (static
    * join sides included) must be built on the returned session. */
  private def stateSession(spark: SparkSession,
                           n: Int = DefaultStatePartitions,
                           durableCheckpoint: Boolean = false): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    // Spark 4.1 writes + verifies a sidecar checksum file for EVERY
    // checkpoint file (state deltas/snapshots, offsets, commits) by
    // default. These replays run on PID-scoped scratch checkpoints that
    // live for one query and are swept afterwards — the hazard the
    // checksums guard against (silent corruption of a long-lived
    // checkpoint on remote storage) cannot arise, while the sidecars
    // DOUBLE the tiny-file creations + fsyncs every micro-batch pays
    // (per state partition × operator × batch). Off for SCRATCH replays
    // only: a caller with a durable checkpoint passes
    // durableCheckpoint=true and keeps Spark's default corruption
    // detection (ADVICE r16). The env override is validated — every
    // current caller is a scratch replay, so a typo'd value must fail
    // loudly at setup, not silently re-enable or disable checksums.
    if (!durableCheckpoint) {
      val checksum = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHECKSUM", "false")
      require(checksum == "true" || checksum == "false",
        s"SPARK_GRAFT_STREAM_CHECKSUM must be 'true' or 'false', got '$checksum'")
      ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", checksum)
    }
    ss
  }

  /** Link a parquet fixture into a file-source watch dir. The file
    * stream source lists a DIRECTORY; the driver testdata tables are
    * single parquet FILES, so a symlink gives the drop-directory shape
    * without a copy. Directory-style parquet (standard Spark output —
    * e.g. the ScaleBench tiled corpora) links each part file instead:
    * the previous single-file assumption made the source silently list
    * nothing and fail on a missing result dir with no diagnostic tying
    * it to layout (ADVICE r11). Anything else fails loudly here, naming
    * the cause. */
  private def linkIntoWatchDir(watchDir: java.nio.file.Path,
                               src: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(watchDir)
    if (java.nio.file.Files.isRegularFile(src))
      java.nio.file.Files.createSymbolicLink(watchDir.resolve(src.getFileName), src)
    else if (java.nio.file.Files.isDirectory(src)) {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(src)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally listing.close()
      require(parts.nonEmpty,
        s"file-stream fixture $src is a directory with no .parquet part files")
      parts.foreach(p => java.nio.file.Files.createSymbolicLink(
        watchDir.resolve(p.getFileName), p))
    } else
      require(false, s"file-stream fixture $src does not exist")
  }

  /** Watermarked hourly tumbling-window counts — the streaming twin of
    * `Analytics.hourlyEvents`. Late data beyond 2h is dropped. Whether the
    * watermark also BOUNDS STATE depends on the sink's output mode:
    * `update`/`append` GC window state once the watermark passes
    * (see [[hourlyCountsUpdate]]); `complete` mode must re-emit every
    * window each batch and therefore keeps all state forever. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Update-mode runner for [[hourlyCounts]] — the output mode a 100 TB/day
    * stream actually runs in: each micro-batch emits only the windows that
    * changed, and once the watermark passes a window's end its rows are
    * DROPPED from the state store (state GC is asserted via
    * `numRowsRemoved` in StreamingSpec). This is what makes the 2 h
    * watermark a real state bound at scale. */
  def hourlyCountsUpdate(events: DataFrame, checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyCounts(events).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(onBatch)
      .start()

  /** Materialize the sink result INTO the session (eager localCheckpoint —
    * the returned frame no longer reads the scratch files), then delete
    * the scratch root: bench/verify runs leave /tmp clean instead of
    * accumulating checkpoints and result parquet per invocation. */
  private def readBackCleaned(spark: SparkSession, out: String)
                             (select: DataFrame => DataFrame): DataFrame = {
    val materialized = select(spark.read.parquet(s"$out/result")).localCheckpoint(true)
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    materialized
  }

  /** File-source stream over events.parquet with the ts arm DERIVED from
    * the batch loader's probe of the live file, mirroring
    * [[graft.Tables.events]]: micros-NTZ generations surface `ts` as
    * TimestampType; nanos generations (under legacy nanosAsLong) as a raw
    * long, normalized here with the same integer division. The driver
    * regenerates testdata between rounds and has switched encodings
    * before — probing instead of hardcoding keeps the streaming path in
    * lockstep with the batch path, whichever encoding arrives. The probe
    * reads only the parquet footer. Returned `ts` is always
    * TimestampType. */
  private def eventFileStream(spark: SparkSession, dir: String,
                              watchDir: java.nio.file.Path): DataFrame = {
    val tsIsLong = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == LongType
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (tsIsLong) LongType else TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(watchDir.toString)
    if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** End-to-end oracle-checkable streaming run (VERDICT r3 item 8): the
    * events table consumed as a file-source STREAM → [[hourlyCounts]] →
    * foreachBatch parquet sink, then the materialized result read back.
    * `Trigger.AvailableNow` drains all available input and stops, so the
    * run is deterministic and batch-comparable; `complete` output mode
    * emits the full aggregate in the final batch — which ALSO means the
    * watermark does NOT bound state here (complete mode keeps every
    * window forever). That is acceptable for this bounded oracle replay
    * only; the production posture is [[hourlyCountsUpdate]], where
    * watermark-expired windows are GC'd from the store. The value column
    * is summed as DECIMAL(18,2) (cast back to double at the end) so the
    * result is bit-identical to the q_hourly_events oracle regardless of
    * per-partition accumulation order. */
  def hourlyCountsEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val ss = stateSession(spark)
    val out = scratchDir("hourly")
    // The file stream source watches a DIRECTORY (its basePath); the
    // events table is a single parquet file, so link it into a temp watch
    // dir — the same shape as a real ingest drop-directory.
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = eventFileStream(ss, dir, watchDir)
      // ts arrives as native TimestampType from the declared schema
      .withColumn("value", col("value").cast("decimal(18,2)"))
    val q = hourlyCounts(stream).writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(_.select(
      col("hour_start"), col("event_type"), col("n_events"),
      col("total_value").cast("double").as("total_value")))
  }

  /** Epoch MICROseconds of a Timestamp — `getTime` alone is millisecond-
    * truncated, which can misorder same-millisecond events and (at a gap
    * boundary) disagree with the microsecond arithmetic of the DuckDB
    * oracle. */
  private def microsOf(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Epoch micros → Timestamp (exact inverse of [[microsOf]]). */
  private def usToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Last event time of an open session (the timeout anchor). */
  private def lastUsOf(s: SessionState): Long =
    if (s.recent.nonEmpty) s.recent.last.us else s.aggLastUs

  /** One gap-split run: an optional folded-aggregate prefix plus the
    * still-buffered events after it. Totals always accumulate LEFT TO
    * RIGHT in event order (aggregate prefix first), so the emitted double
    * is bit-identical whether or not any prefix was ever folded — output
    * does not depend on micro-batch boundaries. */
  private case class SessionRun(aggStartUs: Long, aggLastUs: Long, aggN: Long,
                                aggSum: Double, evs: List[CompactEvent]) {
    def startUs: Long = if (aggN > 0) aggStartUs else evs.head.us
    def lastUs: Long = if (evs.nonEmpty) evs.last.us else aggLastUs
    def n: Long = aggN + evs.size
    def sum: Double = evs.foldLeft(aggSum)(_ + _.value)
  }

  /** The pure per-key sessionization step (unit-tested directly): merge
    * `incoming` into the buffered state, split on the gap rule, close all
    * runs but the last (all of them on timeout), then COMPACT the open
    * run — events older than `watermarkUs` fold into the aggregate prefix
    * (nothing can ever sort before them again), bounding state to the
    * watermark window. Returns (next state, closed sessions as
    * (startUs, endUs, n, sum)). */
  private[graft] def advanceSession(prev: Option[SessionState],
                                    incoming: List[CompactEvent],
                                    watermarkUs: Long, hasTimedOut: Boolean,
                                    gapUs: Long)
      : (Option[SessionState], List[(Long, Long, Long, Double)]) = {
    val st = prev.getOrElse(SessionState(0L, 0L, 0L, 0.0, Nil))
    // stable sort: same-micro events keep buffer-then-arrival order
    val sorted = (st.recent ++ incoming).sortBy(_.us)
    val evRuns = sorted.foldLeft(List.empty[List[CompactEvent]]) {
      case (Nil, e) => List(List(e))
      case (cur :: done, e) =>
        if (e.us - cur.head.us > gapUs) List(e) :: cur :: done
        else (e :: cur) :: done
    }.map(_.reverse).reverse
    // attach the folded prefix: it extends the first run iff the gap from
    // its last folded event to the first buffered event is within bounds
    val allRuns: List[SessionRun] = {
      val plain = evRuns.map(evs => SessionRun(0L, 0L, 0L, 0.0, evs))
      if (st.aggN == 0) plain
      else plain match {
        case first :: rest if first.evs.head.us - st.aggLastUs <= gapUs =>
          SessionRun(st.aggStartUs, st.aggLastUs, st.aggN, st.aggSum, first.evs) :: rest
        case _ =>
          SessionRun(st.aggStartUs, st.aggLastUs, st.aggN, st.aggSum, Nil) :: plain
      }
    }
    val (open, closed) =
      if (hasTimedOut) (Nil, allRuns) else (allRuns.takeRight(1), allRuns.dropRight(1))
    val next = open.headOption.map { run =>
      val (fold, keep) = run.evs.span(_.us < watermarkUs) // sorted => prefix
      if (fold.isEmpty) SessionState(run.aggStartUs, run.aggLastUs, run.aggN, run.aggSum, keep)
      else SessionState(
        if (run.aggN > 0) run.aggStartUs else fold.head.us,
        fold.last.us,
        run.aggN + fold.size,
        fold.foldLeft(run.aggSum)(_ + _.value),
        keep)
    }
    (next, closed.map(r => (r.startUs, r.lastUs, r.n, r.sum)))
  }

  /** Gap-based sessionization with explicit state: events for a user more
    * than `gap` apart start a new session; closed sessions are emitted.
    * `flatMapGroupsWithState` is the Spark primitive for custom streaming
    * state (KeyValueGroupedDataset, per-key state, event-time timeout).
    * All ordering/gap arithmetic runs in epoch micros — full event-time
    * precision. State is the COMPACTED [[SessionState]] (watermark-old
    * prefix folded to an aggregate — see [[advanceSession]]), so a
    * long-lived session holds O(watermark window) events, not all of
    * them. `watermarkDelay` is the lateness bound; the batch-replay
    * oracle harness passes an effectively-infinite delay so no event-time
    * timeout fires mid-replay and the output is exactly the gap-closed
    * sessions (watermark stays 0 there, so nothing folds either — the
    * replay exercises the same code path production runs). */
  def sessionize(events: Dataset[StreamEvent], gapMinutes: Int = 30,
                 watermarkDelay: String = "2 hours"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, newEvents, state: GroupState[SessionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = newEvents.map(e => CompactEvent(microsOf(e.ts), e.value)).toList
          val (next, closed) =
            advanceSession(state.getOption, incoming, wmUs, state.hasTimedOut, gapUs)
          next match {
            case Some(s) =>
              state.update(s)
              state.setTimeoutTimestamp(lastUsOf(s) / 1000L + gapUs / 1000L)
            case None => state.remove()
          }
          closed.iterator.map { case (startUs, endUs, n, sum) =>
            UserSession(userId, usToTimestamp(startUs), usToTimestamp(endUs), n, sum)
          }
      }
  }

  /** End-to-end oracle-checkable sessionization (VERDICT r4 #5): the
    * events table replayed as a file stream through [[sessionize]] →
    * foreachBatch parquet sink → read back. The watermark delay is set
    * far beyond the data's time range so NO event-time timeout fires:
    * every emitted session was closed by the gap rule, making the result
    * exactly "all sessions except each user's last one" — a pure
    * window-gap query the DuckDB oracle mirrors deterministically
    * (timeout-emitted sessions would depend on micro-batch boundaries).
    *
    * Values are quantized to the 2-decimal grid BEFORE summation so the
    * Scala double sum and the oracle's DECIMAL(18,2) sum round to the
    * same 2 dp total; session bounds are emitted as epoch-micros BIGINTs
    * (both engines truncate the source's nanos identically). */
  def sessionizeEndToEnd(spark: SparkSession, dir: String,
                         gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val ss = stateSession(spark)
    val out = scratchDir("sessions")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = eventFileStream(ss, dir, watchDir)
      // ts arrives as native TimestampType from the declared schema
      .withColumn("value", col("value").cast("decimal(18,2)").cast("double"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val q = sessionize(stream, gapMinutes, watermarkDelay = "3650 days")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[UserSession], _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(_.select(
      col("user_id"),
      unix_micros(col("session_start")).as("session_start_us"),
      unix_micros(col("session_end")).as("session_end_us"),
      col("n_events"),
      round(col("total_value"), 2).as("total_value")))
  }

  /** NATIVE streaming session windows — the same `session_window`
    * aggregate as the batch `Analytics.sessionWindowAgg`, run as a
    * watermarked append-mode stream: Spark's session-window state merges
    * overlapping [ts, ts+gap) intervals per (user, open session) and an
    * append sink only receives sessions the WATERMARK has closed. With a
    * zero-delay watermark and AvailableNow replay, the final watermark is
    * the global max event time, so the emitted set is exactly the batch
    * session list minus sessions still open at end-of-stream (ends
    * beyond the last observed timestamp) — a deterministic, oracle-
    * encodable cutoff (strict <: a session whose end equals the final
    * watermark is still held). Completes the session story's third arm:
    * batch native / streaming custom state / streaming native. */
  def sessionWindowStreamEndToEnd(spark: SparkSession, dir: String,
                                  gapMinutes: Int = 30): DataFrame = {
    val ss = stateSession(spark)
    val out = scratchDir("native-sessions")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = eventFileStream(ss, dir, watchDir)
      // ts arrives as native TimestampType from the declared schema
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(_.select(
      col("user_id"),
      unix_micros(col("w.start")).as("session_start_us"),
      unix_micros(col("w.end")).as("session_end_us"),
      col("n_events"), col("total_value")))
  }

  /** DuckDB oracle for [[sessionWindowStreamEndToEnd]]: the batch session
    * list ([[graft.operators.Analytics.sessionWindowAggOracleSql]] CTE
    * chain) restricted to sessions the final watermark (global max event
    * time) closed. */
  def sessionWindowStreamOracleSql(gapMinutes: Int = 30): String = {
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
             FROM g),
       wm AS (SELECT max(us) AS wm_us FROM e)
       SELECT user_id, session_start_us, session_end_us, n_events, total_value
       FROM (SELECT user_id, min(us) AS session_start_us,
                    max(us) + $gapUs AS session_end_us,
                    count(*) AS n_events,
                    CAST(sum(value) AS DOUBLE) AS total_value
             FROM s GROUP BY user_id, sid) t, wm
       WHERE session_end_us < wm_us
       ORDER BY user_id, session_start_us"""
  }

  /** Stream-STATIC enrichment — the third core Structured Streaming shape
    * after windowed aggregation and custom state: the event stream joins
    * the static customer dimension and aggregates revenue per segment.
    * The static side is a plain batch DataFrame; Spark re-plans it per
    * micro-batch (so a slowly-changing dimension refreshes between
    * batches) and broadcasts it under the join threshold — no stream-side
    * shuffle. `AvailableNow` + complete mode make the bounded replay
    * deterministic; the oracle is the identical batch join/groupBy.
    * DECIMAL(18,2) summation keeps the total independent of per-batch
    * accumulation order. */
  def streamEnrichEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val ss = stateSession(spark)
    val out = scratchDir("enrich")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    val stream = eventFileStream(ss, dir, watchDir)
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
    val dim = ss.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val q = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("total_value"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(_.select(col("c_mktsegment"), col("n_events"),
      col("total_value").cast("double").as("total_value")))
  }

  /** STREAMING COUNT-MIN SKETCH — the mergeability argument made
    * executable: each micro-batch builds its own CMS over the arriving
    * tokens and the driver merges them counter-wise
    * (`CountMinSketch.mergeInPlace`). Because every batch sketch shares
    * the seed/geometry and CMS addition commutes, the merged sketch's
    * counters are IDENTICAL to the one-shot batch sketch's — which is
    * why production pipelines ship per-hour sketches and merge into
    * daily/weekly grids instead of re-scanning. Output contract and
    * oracle are exactly [[graft.operators.TextAnalysis.cmsTokenCounts]]:
    * exact top-k counts plus the one-sided-error verdicts the merged
    * sketch must satisfy.
    *
    * Scale shape per batch: the sketch build is a per-partition
    * aggregate merged to one fixed O(1/ε·ln 1/δ) grid — constant state
    * no matter the stream volume; the exact top-k probe list is the
    * batch-side aggregate (the sketch answers point queries, the heavy
    * set comes from elsewhere). */
  def streamCmsEndToEnd(spark: SparkSession, dir: String, topK: Int = 5,
                        eps: Double = 0.0001,
                        confidence: Double = 0.99): DataFrame = {
    val out = scratchDir("cms")
    graft.Tables.documents(spark, dir).repartition(4)
      .write.mode("overwrite").parquet(s"$out/in")
    // Plain var under a lock, NOT an AtomicReference: mergeInPlace is a
    // side effect, and updateAndGet re-runs its function on CAS retry —
    // which would merge a batch's sketch twice. AvailableNow batches are
    // single-threaded today, but the lock makes the invariant structural.
    val mergeLock = new Object
    var merged: org.apache.spark.util.sketch.CountMinSketch = null
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "2").parquet(s"$out/in")
      .select(explode(split(col("text"), " ", -1)).as("token"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = batch.stat.countMinSketch(col("token"), eps, confidence, 42)
        mergeLock.synchronized {
          if (merged == null) merged = sk else merged.mergeInPlace(sk)
        }
        ()
      }
      .start()
    q.awaitTermination()
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    // shared probe + verdict block (one copy keeps the oracle contract)
    graft.operators.TextAnalysis.cmsVerdicts(spark, dir,
      mergeLock.synchronized(merged), topK, eps)
  }

  /** STREAMING temporal table join (Flink's signature op, batch twin
    * [[graft.operators.AsofJoin.temporalJoin]]): arriving non-purchase
    * events join the STATIC SCD-2 versioned dimension on user equality +
    * validity range (`valid_from <= ts < valid_to`) — each event is
    * enriched with the version valid AT ITS EVENT TIME, not the current
    * one, which is exactly what makes a replayed/late stream reproducible.
    * The join + aggregation code is shared with the batch operator
    * (`AsofJoin.temporalJoinAgg`), so stream and batch cannot drift; the
    * oracle is the batch SQL.
    *
    * Scale shape per micro-batch: stream-static LEFT join re-planned per
    * batch (the dimension refreshes between batches in production), range
    * residual evaluated after the user_id equi-match whose fanout is the
    * per-user version count; aggregate state is (user × version)-sized,
    * independent of stream volume. */
  def streamTemporalJoinEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val ss = stateSession(spark)
    val out = scratchDir("temporal")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    val fact = eventFileStream(ss, dir, watchDir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val dim = graft.operators.AsofJoin.temporalDim(ss, dir)
    val q = graft.operators.AsofJoin.temporalJoinAgg(fact, dim)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  private val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** [[graft.operators.Curation.dataCard]]'s STREAMING twin — the
    * running composition monitor an ingest pipeline keeps live: documents
    * arrive as micro-batches (4 part files, `maxFilesPerTrigger=2`, so
    * the replay is genuinely incremental across >= 2 micro-batches) and a streaming aggregate
    * maintains per-(source, lang) doc/char/token mass; the final state
    * equals the batch card's count columns (the oracle). Corpus-relative
    * columns (share, exact-dup) are deliberately absent — they need the
    * whole corpus and belong to the batch card; the streaming card is the
    * composition DRIFT signal (a source suddenly dominating an hour's
    * ingest) that pages before the nightly batch runs.
    *
    * Scale shape per batch: one narrow scan of the arriving files into a
    * partial-aggregated groupBy whose state is CELLS (sources × langs) —
    * constant-size state no matter how much data streams through. */
  def streamDataCardEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamDataCardWithMetrics(spark, dir)._1

  /** [[streamDataCardEndToEnd]] plus the number of micro-batches, so the
    * spec can pin that the card really accreted incrementally. */
  private[graft] def streamDataCardWithMetrics(spark: SparkSession,
                                               dir: String): (DataFrame, Long) = {
    val ss = stateSession(spark)
    val out = scratchDir("datacard")
    graft.Tables.documents(spark, dir).repartition(4)
      .write.mode("overwrite").parquet(s"$out/in")
    val agg = ss.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "2").parquet(s"$out/in")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        sum(size(split(col("text"), " ", -1)).cast("long")).as("n_tokens"))
    val q = agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    (readBackCleaned(spark, out)(identity), nBatches)
  }

  /** X1's streaming twin — stateful exact dedup on a document STREAM:
    * `dropDuplicates` on the content digest keeps the first-seen row per
    * fingerprint in the state store, so re-crawled/re-ingested content is
    * dropped as it arrives instead of in a nightly batch. Emitting ONLY
    * the fingerprint keeps the replay deterministic (WHICH doc of a
    * duplicate group arrives first within a batch is partition-order
    * luck; the SET of distinct fingerprints is not) — the DuckDB oracle
    * is a plain DISTINCT.
    *
    * State grows with distinct content here (fine for a bounded replay);
    * an unbounded production stream uses `dropDuplicatesWithinWatermark`
    * so the store only holds the re-ingest window (e.g. 24 h of crawl),
    * trading global for windowed dedup. */
  def streamDedupEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val ss = stateSession(spark)
    val out = scratchDir("dedup")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "documents.parquet"))
    val distinctFps = ss.readStream.schema(docSchema)
      .parquet(watchDir.toString)
      .select(md5(col("text")).as("fp"))
      .dropDuplicates("fp")
    val q = distinctFps.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** X1's state-BOUNDED streaming variant — the production shape of
    * [[streamDedupEndToEnd]] for an unbounded crawl:
    * `dropDuplicatesWithinWatermark` holds a fingerprint only until the
    * watermark passes its event time + the re-ingest window, so the state
    * store carries the window (e.g. 24 h of crawl), never the full
    * corpus-distinct set. Ingest time is synthesized deterministically
    * from doc_id (1 doc/second — a crawl arriving in id order), so the
    * replay is reproducible and the bounded-replay output is exactly the
    * distinct fingerprint set (all duplicates here land inside one
    * micro-batch, whose state is never mid-batch evicted) — the same
    * DISTINCT oracle as the unbounded twin. What CHANGES is the state
    * bound: after the final no-data batch advances the watermark to
    * max(ts) − delay, only fingerprints first seen in the last
    * 2×delay seconds remain in the store — asserted via
    * `numRowsTotal` in StreamingSpec and surfaced by
    * [[streamDedupBoundedWithMetrics]]. */
  def streamDedupBoundedEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamDedupBoundedWithMetrics(spark, dir)._1

  /** [[streamDedupBoundedEndToEnd]] plus the final state-store row count
    * (−1 if no progress carried state metrics), so tests can pin "the
    * watermark BOUNDS state" as a number instead of trusting the API. */
  private[graft] def streamDedupBoundedWithMetrics(
      spark: SparkSession, dir: String,
      delay: String = "60 seconds"): (DataFrame, Long) = {
    val ss = stateSession(spark)
    val out = scratchDir("dedupwm")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "documents.parquet"))
    val distinctFps = ss.readStream.schema(docSchema)
      .parquet(watchDir.toString)
      .select(md5(col("text")).as("fp"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ingest_ts"))
      .withWatermark("ingest_ts", delay)
      .dropDuplicatesWithinWatermark("fp")
      .select("fp")
    val q = distinctFps.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    val lastState = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    (readBackCleaned(spark, out)(identity), lastState)
  }

  /** MERGE/upsert's STREAMING twin — micro-batched CDC apply: the same
    * deterministic delta as [[graft.operators.Curation.corpusMerge]]
    * arrives as a document STREAM (4 part files, `maxFilesPerTrigger=2`,
    * so the upsert really replays as successive micro-batches), and each
    * batch is applied to the keyed corpus store with the identical
    * full-outer + delta-wins merge, ping-ponging between versioned state
    * dirs (a parquet dir cannot be overwritten while it is being read —
    * and versioned swaps are exactly how table formats commit). Delta
    * keys are unique across the whole batch set, so the final store is
    * independent of HOW the replay was micro-batched — which is what
    * makes the oracle the batch merge itself.
    *
    * Scale shape per batch: one keyed shuffle of store+delta (the
    * unavoidable upsert cost; a bucketed store would shuffle only the
    * delta) and a narrow coalesce projection — state lives in the store,
    * not the streaming state store, so an arbitrarily large corpus
    * streams through micro-batches with O(batch) memory. */
  def streamUpsertEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamUpsertWithMetrics(spark, dir)._1

  /** [[streamUpsertEndToEnd]] plus the number of non-empty micro-batches,
    * so the spec can pin that the replay was actually incremental. */
  private[graft] def streamUpsertWithMetrics(spark: SparkSession,
                                             dir: String): (DataFrame, Long) = {
    val out = scratchDir("upsert")
    graft.operators.Curation.corpusDelta(spark, dir)
      .repartition(4).write.mode("overwrite").parquet(s"$out/delta")
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$out/state_init")
    @volatile var cur = s"$out/state_init"
    val deltaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val q = spark.readStream.schema(deltaSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$out/delta")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val d = batch.select(col("doc_id").as("d_id"),
          col("lang").as("d_lang"), md5(col("text")).as("d_fp"))
        val next = s"$out/state_$id"
        spark.read.parquet(cur)
          .join(d, col("doc_id") === col("d_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("d_id")).as("doc_id"),
            coalesce(col("d_lang"), col("lang")).as("lang"),
            coalesce(col("d_fp"), col("fp")).as("fp"))
          .write.mode("overwrite").parquet(next)
        cur = next
      }
      .start()
    q.awaitTermination()
    val nBatches = q.recentProgress.count(_.numInputRows > 0).toLong
    val materialized = spark.read.parquet(cur).localCheckpoint(true)
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    (materialized, nBatches)
  }

  /** STREAMING CDC APPLY — the op-log twin of [[streamUpsertEndToEnd]]
    * (which replays a reconciled delta): the versioned insert/update/
    * delete log of `q_cdc_apply` arrives as micro-batches in ARBITRARY
    * order and the keyed state must still converge on the batch result.
    * Order-tolerance is the design point, not an accident: every state
    * row carries its op VERSION, each batch first collapses to its own
    * per-key max-version payload, and the merge keeps whichever side has
    * the higher version — so batch boundaries and replay order cannot
    * change the fixpoint (the replay below shuffles the log across files
    * to prove it, and the spec compares against the batch apply exactly).
    * Delete tombstones STAY in the state with their version — dropping
    * them eagerly would let a late lower-version update resurrect the row
    * (the classic CDC bug; Delta/Hudi retain tombstones for the same
    * reason) — and are filtered only at the final read. State is
    * O(corpus keys), each batch costs one keyed merge of O(batch) against
    * it — the same shape a foreachBatch MERGE INTO runs at 100 TB. */
  def streamCdcEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("cdc")
    // the log lands shuffled across 4 files — deliberately NOT in version
    // order; repartition by a hash spreads versions across every file
    graft.operators.Curation.cdcOpLog(spark, dir)
      .repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$out/oplog")
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), lit(0L).as("v"), lit("K").as("op"),
        col("lang"), md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(s"$out/state_init")
    @volatile var cur = s"$out/state_init"
    val opSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("v", IntegerType),
      StructField("op", StringType), StructField("text", StringType),
      StructField("lang", StringType)))
    val q = spark.readStream.schema(opSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$out/oplog")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // collapse the batch to its own per-key latest op first — a batch
        // may carry several versions of one key
        val d = batch
          .select(col("doc_id").as("d_id"),
            col("v").cast("long").as("d_v"), col("op").as("d_op"),
            col("lang").as("d_lang"), md5(col("text")).as("d_fp"))
          .groupBy("d_id")
          .agg(max_by(struct(col("d_v"), col("d_op"), col("d_lang"),
            col("d_fp")), col("d_v")).as("w"))
          .select(col("d_id"), col("w.d_v").as("d_v"), col("w.d_op").as("d_op"),
            col("w.d_lang").as("d_lang"), col("w.d_fp").as("d_fp"))
        val next = s"$out/state_$id"
        // higher version wins; ties impossible (versions unique per key)
        spark.read.parquet(cur)
          .join(d, col("doc_id") === col("d_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("d_id")).as("doc_id"),
            when(col("d_v").isNotNull && (col("v").isNull || col("d_v") > col("v")),
              col("d_v")).otherwise(col("v")).as("v"),
            when(col("d_v").isNotNull && (col("v").isNull || col("d_v") > col("v")),
              col("d_op")).otherwise(col("op")).as("op"),
            when(col("d_v").isNotNull && (col("v").isNull || col("d_v") > col("v")),
              col("d_lang")).otherwise(col("lang")).as("lang"),
            when(col("d_v").isNotNull && (col("v").isNull || col("d_v") > col("v")),
              col("d_fp")).otherwise(col("fp")).as("fp"))
          .write.mode("overwrite").parquet(next)
        cur = next
      }
      .start()
    q.awaitTermination()
    val materialized = spark.read.parquet(cur)
      .filter(col("op") =!= "D") // tombstones leave the view only at read time
      .select(col("doc_id"), col("op").as("action"), col("lang"), col("fp"))
      .localCheckpoint(true)
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    materialized
  }

  /** STREAMING near-dup dedup — the production "dedupe arriving documents
    * against the historical corpus" flow run as an actual stream: the new
    * batch (top doc_id decile, [[graft.operators.Dedup.nearDupNewVsCorpus]]'s
    * split) arrives as a document STREAM, computes its MinHash-128 band
    * signatures PER ROW with the codegen'd kernel (no explode, no streaming
    * aggregation — [[graft.operators.Dedup.withNarrowSignatures]]), then:
    * stream-static equi-join against the corpus signature store on
    * (band, sig); stateful pair dedup (`dropDuplicates` — a bounded
    * replay; an unbounded stream uses dropDuplicatesWithinWatermark);
    * stream-static join to the corpus profile; per-row band-agreement /
    * minhash-agreement / exact-Jaccard filters via the codegen'd array
    * kernels. Everything after the source is either per-row or
    * stream-static — no watermark semantics imposed on a logically
    * per-document operation. Emits the same (new_doc, corpus_doc,
    * jaccard) rows as the batch incremental operator, so it shares its
    * DuckDB oracle. */
  def streamNearDupEndToEnd(spark: SparkSession, dir: String,
                            threshold: Double = 0.95): DataFrame = {
    import graft.operators.Dedup
    // the whole query — static sides included — lives on the isolated
    // state session; the kernel functions are there already (newSession
    // gets a fresh FunctionRegistry, but extension-injected functions
    // carry over)
    val ss = stateSession(spark)
    val splitFrom = graft.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
    // static sides: the PERSISTED corpus signature store (parquet, built
    // once per process — VERDICT r6 #1) + shingle sets. Stream-static
    // joins re-plan the static side per micro-batch, so each batch reads
    // the store files directly — exactly the production flow where a
    // nightly job writes the store and the ingest stream reads it.
    val (sigAll, profileAll) = Dedup.signatureStore(ss, dir)
    val corpusSig = sigAll.filter(col("doc_id") < splitFrom)
      .withColumnRenamed("doc_id", "corpus_doc")
    val corpusProfile = profileAll.filter(col("doc_id") < splitFrom)
      .select(col("doc_id").as("corpus_doc"), col("mh").as("mh_b"),
        col("sig_arr").as("sig_arr_b"))
    // Lazy on purpose: the verify join needs corpus shingle sets only for
    // the few candidate corpus docs, and the whole replay is one
    // AvailableNow micro-batch — an eager localCheckpoint would tokenize
    // and materialize the ENTIRE corpus to the block manager up front
    // (measured ~2s of the query at sf0.1) for a single consumer pass.
    // fanOut (r16): the per-batch tokenization of the corpus side ran in
    // the single-row-group scan's ONE task inside the micro-batch; the
    // spread (identity at production corpus sizes) parallelizes it.
    val corpusSets = graft.Tables.fanOut(graft.Tables.documents(ss, dir).select("doc_id", "text"))
      .filter(col("doc_id") < splitFrom)
      .select(col("doc_id").as("corpus_doc"),
        Dedup.shingleSetK(1).as("set_b"))
    val minAgree = Dedup.minAgreeFor(Dedup.DefaultEstJaccard)
    // the stream: new-batch documents arriving as files
    val out = scratchDir("neardup")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "documents.parquet"))
    val newStream = Dedup.withNarrowSignatures(
        ss.readStream.schema(docSchema).parquet(watchDir.toString)
          .filter(col("doc_id") >= splitFrom),
        shingleK = 1, bands = Dedup.NumBands, rowsPerBand = Dedup.RowsPerBand)
      .select(col("doc_id").as("new_doc"), col("mh").as("mh_a"),
        col("sig_arr"), Dedup.shingleSetK(1).as("set_a"))
    val candidates = newStream
      .select(col("new_doc"), col("mh_a"), col("sig_arr"), col("set_a"),
        posexplode(col("sig_arr")).as(Seq("band", "sig")))
      .join(corpusSig, Seq("band", "sig"))
      .dropDuplicates("new_doc", "corpus_doc")
    val pairs = candidates
      .join(corpusProfile, "corpus_doc")
      .filter(expr("array_agree_count(sig_arr, sig_arr_b)") >= Dedup.DefaultMinBands)
      .filter(expr("array_agree_count(mh_a, mh_b)") >= minAgree)
      .join(corpusSets, "corpus_doc")
      .withColumn("c", expr("array_intersect_count(set_a, set_b)"))
      .select(col("new_doc"), col("corpus_doc"),
        round(col("c").cast("double")
          / (size(col("set_a")) + size(col("set_b")) - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val q = pairs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** STREAM-STREAM interval self-join — the last canonical Structured
    * Streaming shape (after windowed aggregation, custom state,
    * stream-static join, and streaming dedup): each event joins every
    * SAME-USER event in the preceding `windowMinutes`, both sides being
    * the live event stream. Spark buffers each side in the join state
    * store and uses the watermark + the time-range predicate to GC rows
    * no future match can reach — state per side is O(watermark + window),
    * not O(stream), which is what makes the shape runnable on an
    * unbounded 100 TB/day stream. Inner join in append mode: matches
    * emit as soon as both rows have arrived.
    *
    * Output is (event_id, prior_event_id, gap_us) — pure id/interval
    * arithmetic in epoch micros, deterministic under any micro-batch
    * split, and exactly reproducible by a batch interval join (the
    * DuckDB oracle and the StreamingSpec batch twin). */
  def streamStreamJoinEndToEnd(spark: SparkSession, dir: String,
                               windowMinutes: Int = 30,
                               statePartitions: Int = DefaultStatePartitions): DataFrame = {
    // STATE-PARTITION SIZING: see [[stateSession]] — a stream-stream join
    // pays the per-partition store cost × four stores per side, so this
    // shape is where the 32 → 8 sizing was first measured (7.6 s → 5.2 s
    // at sf0.1).
    val ss = stateSession(spark, statePartitions)
    val out = scratchDir("ssjoin")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    // two independent source instances of the same drop-directory — the
    // canonical two-stream shape (and it sidesteps streaming self-join
    // attribute ambiguity)
    def side(name: String): DataFrame =
      eventFileStream(ss, dir, watchDir)
        // ts arrives as native TimestampType from the declared schema
        .select(col("event_id").as(s"${name}_event_id"),
          col("ts").as(s"${name}_ts"), col("user_id").as(s"${name}_user_id"))
        .withWatermark(s"${name}_ts", "1 hour")
    val joined = side("l").join(side("r"),
      col("l_user_id") === col("r_user_id") &&
        col("r_ts") < col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("l_event_id").as("event_id"),
        col("r_event_id").as("prior_event_id"),
        (unix_micros(col("l_ts")) - unix_micros(col("r_ts"))).as("gap_us"))
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** DuckDB oracle for [[streamStreamJoinEndToEnd]]: the identical batch
    * interval self-join, in the operator's own epoch-micros arithmetic
    * (both engines truncate the parquet nanos to micros). */
  def streamStreamJoinOracleSql(windowMinutes: Int = 30): String = {
    val winUs = windowMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events)
       SELECT l.event_id, r.event_id AS prior_event_id, l.us - r.us AS gap_us
       FROM e l JOIN e r
         ON l.user_id = r.user_id AND r.us < l.us AND r.us >= l.us - $winUs
       ORDER BY 1, 2"""
  }

  /** The LEFT OUTER arm of the stream-stream interval join: matches emit
    * like the inner join, and a left event with NO same-user event in its
    * preceding window additionally emits one null-padded row — but only
    * once the WATERMARK proves no future match can arrive (null emission
    * is a state-eviction side effect, so it is watermark-gated by
    * construction). Events still inside the watermark at stream end stay
    * silent — exactly the semantics the oracle encodes: unmatched rows
    * qualify only when their event time is strictly below the final
    * watermark (max event time − the 1 h delay). This is the streaming
    * answer to "which events had no prior context?" — the negation query
    * an inner join cannot express. */
  def streamStreamLeftOuterEndToEnd(spark: SparkSession, dir: String,
                                    windowMinutes: Int = 30,
                                    statePartitions: Int = DefaultStatePartitions): DataFrame = {
    val ss = stateSession(spark, statePartitions)
    val out = scratchDir("ssouter")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    def side(name: String): DataFrame =
      eventFileStream(ss, dir, watchDir)
        // ts arrives as native TimestampType from the declared schema
        .select(col("event_id").as(s"${name}_event_id"),
          col("ts").as(s"${name}_ts"), col("user_id").as(s"${name}_user_id"))
        .withWatermark(s"${name}_ts", "1 hour")
    val joined = side("l").join(side("r"),
      col("l_user_id") === col("r_user_id") &&
        col("r_ts") < col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      "leftOuter")
      .select(col("l_event_id").as("event_id"),
        col("r_event_id").as("prior_event_id"),
        (unix_micros(col("l_ts")) - unix_micros(col("r_ts"))).as("gap_us"))
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** MULTI-STATEFUL streaming pipeline — TWO stateful operators chained
    * in one query: the watermarked stream-stream interval join feeding a
    * tumbling-window aggregation (pairs per hour), both in append mode.
    * Chained stateful operators are the shape real streaming DAGs take
    * (enrich → aggregate) and exercise Spark's cross-operator watermark
    * propagation: the window emits only once the watermark — delayed by
    * BOTH the join's buffering allowance and the window length — proves
    * it complete. At stream end that means hour windows whose end is at
    * or below the final watermark (max event time − 1 h delay) emit;
    * the tail stays in state — exactly what the oracle encodes. */
  def streamJoinAggEndToEnd(spark: SparkSession, dir: String,
                            windowMinutes: Int = 30,
                            statePartitions: Int = DefaultStatePartitions): DataFrame = {
    val ss = stateSession(spark, statePartitions)
    val out = scratchDir("ssjoinagg")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "events.parquet"))
    def side(name: String): DataFrame =
      eventFileStream(ss, dir, watchDir)
        // ts arrives as native TimestampType from the declared schema
        .select(col("event_id").as(s"${name}_event_id"),
          col("ts").as(s"${name}_ts"), col("user_id").as(s"${name}_user_id"))
        .withWatermark(s"${name}_ts", "1 hour")
    val joined = side("l").join(side("r"),
      col("l_user_id") === col("r_user_id") &&
        col("r_ts") < col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
    val agg = joined
      .groupBy(window(col("l_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(unix_micros(col("w.start")).as("hour_start_us"), col("n_pairs"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** DuckDB oracle for [[streamJoinAggEndToEnd]]: the batch interval join
    * aggregated per hour, keeping windows the final watermark closed. */
  def streamJoinAggOracleSql(windowMinutes: Int = 30): String = {
    val winUs = windowMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
       wm AS (SELECT max(us) - 3600000000 AS wm_us FROM e),
       p AS (SELECT l.us AS l_us
             FROM e l JOIN e r
               ON l.user_id = r.user_id AND r.us < l.us AND r.us >= l.us - $winUs)
       SELECT hour_start_us, n_pairs FROM (
         SELECT (l_us // 3600000000) * 3600000000 AS hour_start_us,
                count(*) AS n_pairs
         FROM p GROUP BY 1) a, wm
       WHERE a.hour_start_us + 3600000000 <= wm.wm_us
       ORDER BY 1"""
  }

  /** DuckDB oracle for [[streamStreamLeftOuterEndToEnd]]: inner matches
    * plus null rows for unmatched events strictly below the final
    * watermark. */
  def streamStreamLeftOuterOracleSql(windowMinutes: Int = 30): String = {
    val winUs = windowMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
       wm AS (SELECT max(us) - 3600000000 AS wm_us FROM e),
       m AS (SELECT l.event_id, r.event_id AS prior_event_id, l.us - r.us AS gap_us
             FROM e l JOIN e r
               ON l.user_id = r.user_id AND r.us < l.us AND r.us >= l.us - $winUs),
       um AS (SELECT l.event_id, l.us FROM e l
              WHERE NOT EXISTS (
                SELECT 1 FROM e r
                WHERE l.user_id = r.user_id AND r.us < l.us AND r.us >= l.us - $winUs))
       SELECT event_id, prior_event_id, gap_us FROM m
       UNION ALL
       SELECT um.event_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
       FROM um, wm WHERE um.us < wm.wm_us
       ORDER BY 1, 2"""
  }

  /** DuckDB oracle for [[sessionizeEndToEnd]], generated from the SAME gap
    * constant: classic window-gap sessionization (break where the gap to
    * the previous event exceeds the threshold, session id = running break
    * count), keeping every session but each user's last — the exact set
    * the gap rule closes during the replay. Micros arithmetic matches the
    * operator's (both engines truncate the parquet nanos). */
  def sessionizeOracleSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
                        CAST(value AS DECIMAL(18,2)) AS value FROM events),
       g AS (SELECT user_id, us, value,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > $gapUs
                    THEN 1 ELSE 0 END AS brk
             FROM e),
       s AS (SELECT user_id, us, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
             FROM g),
       sess AS (SELECT user_id, sid, min(us) AS session_start_us,
                       max(us) AS session_end_us, count(*) AS n_events,
                       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
                FROM s GROUP BY user_id, sid)
       SELECT user_id, session_start_us, session_end_us, n_events, total_value
       FROM (SELECT sess.*, max(sid) OVER (PARTITION BY user_id) AS last_sid
             FROM sess) t
       WHERE sid < last_sid
       ORDER BY user_id, session_start_us"""
  }

  def streamRestartEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamRestartWithMetrics(spark, dir)._1

  /** CHECKPOINT-RESTART recovery — the property that makes a streaming
    * deployment survivable: a watermarked hourly aggregation is run over
    * half the event corpus and STOPPED; a brand-new query instance is
    * then started on the SAME checkpoint after the other half lands. The
    * restarted query must (a) recover its aggregation state from the
    * state store — hours straddling the stop would otherwise undercount —
    * and (b) resume from the recorded source offsets — re-reading phase-1
    * files would double-count. Equality with the batch oracle pins both
    * failure modes; `resumed_incremental` (phase-2 input rows == exactly
    * the late half) pins that the restart did NOT silently recompute from
    * scratch, which result-equality alone could mask. The two-phase file
    * drop is the deterministic local stand-in for a mid-stream crash; at
    * 100 TB/day this is the nightly executor-loss / code-deploy path. */
  private[graft] def streamRestartWithMetrics(
      spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val ss = stateSession(spark) // both lifecycles pay per-partition store cost
    val out = scratchDir("restart")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "in"))
    val events = graft.Tables.events(spark, dir)
      .withColumn("value", col("value").cast("decimal(18,2)"))
    // Time-ordered arrival, split at the corpus midpoint SHIFTED OFF the
    // hour edge (+30 min) so hours straddling the stop are fed by BOTH
    // phases — exactly the windows broken state recovery would undercount.
    // The boundary is a 1-row aggregate (driver scalar, deterministic).
    val Array(boundRow) = events
      .agg(unix_micros(min(col("ts"))).as("lo"),
        unix_micros(max(col("ts"))).as("hi")).collect()
    val boundaryUs =
      (boundRow.getLong(0) + boundRow.getLong(1)) / 2 + 1800L * 1000000L
    def dropPhase(name: String, pred: org.apache.spark.sql.Column): Long = {
      val slice = events.filter(pred)
      // stage then move part files into the ONE flat watch dir the file
      // source lists — the same drop-directory shape a real ingest uses
      val stage = java.nio.file.Paths.get(s"$out/stage_$name")
      slice.write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(stage)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$out/in/${name}_$i.parquet"))
      }
      slice.count()
    }
    def runToDrained(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = ss.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", org.apache.spark.sql.types.DecimalType(18, 2)),
          StructField("props", StringType))))
        .parquet(s"$out/in")
      val q = hourlyCounts(stream).writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/result")
        }
        .start()
      q.awaitTermination()
      q
    }
    dropPhase("early", unix_micros(col("ts")) <= boundaryUs)
    runToDrained() // phase 1: the early half, clean stop
    val lateRows = dropPhase("late", unix_micros(col("ts")) > boundaryUs)
    val q2 = runToDrained() // phase 2: NEW query instance, same checkpoint
    val p2Rows = q2.recentProgress.map(_.numInputRows).sum
    val result = readBackCleaned(spark, out)(_.select(
      col("hour_start"), col("event_type"), col("n_events"),
      col("total_value").cast("double").as("total_value"))
      .withColumn("resumed_incremental", lit(p2Rows == lateRows)))
    (result, p2Rows, lateRows)
  }

  def streamExactlyOnceEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamExactlyOnceWithMetrics(spark, dir)._1

  /** EXACTLY-ONCE sink under AT-LEAST-ONCE batch delivery — the foreachBatch
    * contract every production sink must honor: after a failure between
    * epoch execution and commit, Spark re-delivers the SAME micro-batch
    * with the SAME batchId, so the sink must be idempotent on batchId.
    * This replay runs the events corpus through a 4-file stream
    * (`maxFilesPerTrigger=2`) whose sink writes each batch to a
    * `batch=<id>` directory via full-overwrite — and then writes it AGAIN
    * (the simulated redelivery; an append-mode sink would double every
    * row). The final audit over the whole sink directory proves each
    * event landed exactly once: total rows == distinct event ids == the
    * corpus count the oracle recomputes. */
  private[graft] def streamExactlyOnceWithMetrics(
      spark: SparkSession, dir: String): (DataFrame, Long) = {
    val out = scratchDir("eonce")
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$out/in")
    val inSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", org.apache.spark.sql.types.DecimalType(18, 2))))
    val q = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$out/in")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        def commit(): Unit = batch.write.mode("overwrite")
          .parquet(s"$out/result/batch=$id")
        commit()
        commit() // simulated redelivery of the same epoch: must be a no-op
      }
      .start()
    q.awaitTermination()
    val nBatches = q.recentProgress.count(_.numInputRows > 0).toLong
    val audit = spark.read.parquet(s"$out/result")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_distinct_events"),
        sum(col("value")).cast("double").as("total_value"))
      .withColumn("multi_batch", lit(nBatches >= 2))
      .withColumn("dup_free", col("n_rows") === col("n_distinct_events"))
      .localCheckpoint(true)
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    (audit, nBatches)
  }

  val streamRestartOracleSql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
              count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
              true AS resumed_incremental
       FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""

  val streamExactlyOnceOracleSql: String =
    """SELECT count(*) AS n_rows,
              count(DISTINCT event_id) AS n_distinct_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
              true AS multi_batch, true AS dup_free
       FROM events"""

  /** EXACTLY-ONCE STREAMING INGEST INTO THE VERSIONED CATALOG —
    * `readStream → writeStream.toTable(graft_cat.…)`, the statement-level
    * twin of [[streamExactlyOnceWithMetrics]]'s foreachBatch pattern: here
    * the SINK ITSELF owns idempotence (each micro-batch is one manifest
    * commit keyed on (queryId, epochId) — [[graft.catalog
    * .GraftStreamingWrite]]), so the user writes no dedup logic at all.
    * The harness forces the failure mode the key exists for: after the
    * stream drains, the newest entry in the checkpoint's commit log is
    * deleted — exactly the on-disk state of a driver that died between
    * sink commit and checkpoint commit — and the query is restarted, so
    * Spark re-executes the final micro-batch with the SAME epochId from
    * its recorded offsets. The sink must refuse the replayed commit:
    * `replay_dup_free` pins both no-duplicate-rows AND no extra manifest
    * version; the aggregate itself is oracle-checked against the events
    * corpus. At 100 TB/day this is the kafka→lakehouse ingest path: an
    * append commit per epoch costs one manifest swap regardless of table
    * size, and restart safety needs no table-wide reconciliation. */
  def streamCatalogSinkEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, cat) = graft.operators.SqlVerbs.sessionAndCatalog(spark, dir)
    val t = s"$cat.main.events_stream"
    val out = scratchDir("catsink")
    graft.Tables.events(ss, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$out/in")
    ss.sql(s"DROP TABLE IF EXISTS $t") // each invocation ingests fresh
    ss.sql(s"CREATE TABLE $t (event_id BIGINT, event_type STRING, value DECIMAL(18,2))")
    val inSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", org.apache.spark.sql.types.DecimalType(18, 2))))
    def runToDrained(): Unit = {
      val q = ss.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", "2") // 4 staged files -> 2 epochs
        .parquet(s"$out/in")
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    runToDrained()
    // simulate dying between sink commit and checkpoint commit: drop the
    // newest commit-log entry, keeping its offsets — restart re-runs that
    // epoch against the sink with the same epochId
    val commits = java.nio.file.Paths.get(s"$out/_ckpt/commits")
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(commits)
    val newest = try listing.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    finally listing.close()
    java.nio.file.Files.delete(newest)
    // the checksum sibling too, or the rewrite's crc rename collides and
    // Spark misreads the leftover as a concurrent writer
    java.nio.file.Files.deleteIfExists(
      newest.resolveSibling(s".${newest.getFileName}.crc"))
    runToDrained()
    val versions = ss.sql(s"SHOW TBLPROPERTIES $t").collect()
      .find(_.getString(0) == "latest_version")
      .map(_.getString(1).toLong).getOrElse(0L)
    val audit = ss.sql(
      s"""SELECT count(*) AS n_rows,
                 count(DISTINCT event_id) AS n_distinct_events,
                 CAST(sum(value) AS DOUBLE) AS total_value FROM $t""")
      .withColumn("multi_epoch", lit(versions >= 2))
      .withColumn("replay_dup_free",
        col("n_rows") === col("n_distinct_events") && lit(versions == 2L))
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    audit
  }

  val streamCatalogSinkOracleSql: String =
    """SELECT count(*) AS n_rows,
              count(DISTINCT event_id) AS n_distinct_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
              true AS multi_epoch, true AS replay_dup_free
       FROM events"""

  /** THE CATALOG TABLE AS A STREAMING SOURCE — `readStream.table(
  * graft_cat.…)` tails the version chain ([[graft.catalog
    * .GraftMicroBatchStream]]): a fresh stream opens with the current
    * snapshot; a RESUMED stream reads exactly the versions committed
    * since its checkpointed offset — here the third event slice lands
    * together with a `CALL system.compact` re-layout, and the resumed
    * stream must emit the slice's rows ONCE and the compaction's
    * rewritten files NEVER (`dataChange = false` skip; `resumed_
    * incremental` pins the phase-2 input row count to exactly the
    * slice). This is the downstream half of the lakehouse loop the sink
    * query opens: ingest lands exactly-once, consumers tail
    * incrementally at cost ∝ new files per trigger, and nightly
    * OPTIMIZE stays invisible to both. */
  def streamCatalogSourceEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, cat) = graft.operators.SqlVerbs.sessionAndCatalog(spark, dir)
    val t = s"$cat.main.events_src"
    val out = scratchDir("catsrc")
    ss.sql(s"DROP TABLE IF EXISTS $t") // each invocation tails fresh
    ss.sql(s"CREATE TABLE $t (event_id BIGINT, event_type STRING, value DECIMAL(18,2))")
    graft.Tables.events(ss, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
      .createOrReplaceTempView("events_catalog_src")
    def ingest(slice: Int): Unit =
      ss.sql(s"INSERT INTO $t SELECT * FROM events_catalog_src WHERE event_id % 3 = $slice")
    def drain(): Long = {
      val q = ss.readStream.table(t)
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$out/result")
        }
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    ingest(0); ingest(1)
    drain() // opening snapshot: slices 0 and 1
    ingest(2)
    ss.sql(s"CALL $cat.system.compact(table => 'main.events_src', target_files => 2)")
    val resumedRows = drain() // delta only: slice 2; compaction skipped
    val slice2Rows = ss.sql(
      "SELECT count(*) FROM events_catalog_src WHERE event_id % 3 = 2").head().getLong(0)
    readBackCleaned(spark, out)(df => df
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_distinct_events"),
        sum(col("value")).cast("double").as("total_value"))
      .withColumn("resumed_incremental", lit(resumedRows == slice2Rows))
      .withColumn("compaction_invisible", col("n_rows") === col("n_distinct_events")))
  }

  val streamCatalogSourceOracleSql: String =
    """SELECT count(*) AS n_rows,
              count(DISTINCT event_id) AS n_distinct_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
              true AS resumed_incremental, true AS compaction_invisible
       FROM events"""

  /** X-STRw — THE CHANGE FEED AS A STREAM (VERDICT r12 #4): `readStream
    * .table("….changes")` tails the verb chain's ROW-LEVEL deltas — the
    * INSERT's rows as inserts, the UPDATE's and the MERGE's matched arm
    * as keyed pre/post image pairs, the takedown DELETE as deletes —
    * across COW rewrites the plain version-tail source must refuse
    * ([[graft.catalog.GraftCdfTable]]). `starting_version = 0` replays
    * the whole retained chain; `max_versions_per_trigger = 1` forces one
    * micro-batch PER COMMIT, so the collected output being hash-equal to
    * the DuckDB relational replay (the same oracle as the batch
    * `q_sql_cdf`) pins batch-for-batch equality with
    * [[graft.catalog.ChangeFeed.tableChanges]], not just same-total.
    * Downstream is how a 100 TB derived table subscribes to takedowns:
    * per-trigger cost ∝ the files each commit touched (file-granular COW
    * keeps that ∝ churn), never the corpus. */
  def streamCdfTailEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, t) = graft.operators.SqlVerbs.ensureVerbChain(spark, dir)
    val out = scratchDir("cdftail")
    val q = ss.readStream
      .option("starting_version", "0")
      .option("key_cols", "doc_id")
      .option("max_versions_per_trigger", "1")
      .table(s"$t.changes")
      .writeStream
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** The stream must equal the batch feed, which equals the relational
    * replay — one oracle serves all three. */
  val streamCdfTailOracleSql: String = graft.operators.SqlVerbs.sqlCdfOracleSql

  /** X-STRv — DERIVED-TABLE MAINTENANCE, the full lakehouse loop: an
    * upstream catalog table is ingested in batches, `readStream.table`
    * tails its version chain, and each micro-batch MERGEs its
    * AGGREGATED DELTA into a downstream catalog table — per-trigger
    * cost ∝ the batch (the delta aggregate touches new files only; the
    * MERGE's COW rewrite touches the downstream table, which is
    * aggregate-sized, not corpus-sized). Two drains → two MERGEs: the
    * first exercises the NOT MATCHED arm on the empty table, the second
    * the MATCHED `+=` arm — pinned by `docs_after_batch1` (the
    * downstream's VERSION AS OF 1 mass = exactly the first snapshot's
    * docs). Replay-idempotence is deliberately out of scope here: the
    * += MERGE is not idempotent, and the exactly-once sink contract is
    * pinned separately (q_stream_catalog_sink, q_stream_exactly_once);
    * production pairs this loop with that sink or an epoch-id guard. */
  def streamDerivedTableEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, cat) = graft.operators.SqlVerbs.sessionAndCatalog(spark, dir)
    val up = s"$cat.main.docs_up"
    val down = s"$cat.main.lang_stats"
    val out = scratchDir("derived")
    ss.sql(s"DROP TABLE IF EXISTS $up")
    ss.sql(s"DROP TABLE IF EXISTS $down")
    ss.sql(s"CREATE TABLE $up (doc_id BIGINT, lang STRING, n_chars BIGINT)")
    ss.sql(s"CREATE TABLE $down (lang STRING, n_docs BIGINT, sum_chars BIGINT)")
    graft.Tables.documents(ss, dir).select("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("docs_derived_src")
    def ingest(slice: Int): Unit =
      ss.sql(s"INSERT INTO $up SELECT * FROM docs_derived_src WHERE doc_id % 3 = $slice")
    def drain(): Unit = {
      val q = ss.readStream.table(up)
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the delta aggregate is batch-sized; the MERGE folds it in
          val bs = batch.sparkSession
          batch.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
            .createOrReplaceTempView("derived_batch_delta")
          bs.sql(
            s"""MERGE INTO $down t USING derived_batch_delta s ON t.lang = s.lang
                WHEN MATCHED THEN UPDATE SET
                  n_docs = t.n_docs + s.n_docs,
                  sum_chars = t.sum_chars + s.sum_chars
                WHEN NOT MATCHED THEN INSERT (lang, n_docs, sum_chars)
                  VALUES (s.lang, s.n_docs, s.sum_chars)""")
          ()
        }
        .start()
      q.awaitTermination()
    }
    ingest(0); ingest(1)
    drain() // opening snapshot → first MERGE (all NOT MATCHED)
    ingest(2)
    drain() // version tail → second MERGE (MATCHED += / NOT MATCHED mix)
    val afterBatch1 = ss.sql(s"SELECT sum(n_docs) FROM $down VERSION AS OF 1")
      .head().getLong(0)
    ss.sql(s"SELECT lang, n_docs, sum_chars FROM $down")
      .withColumn("docs_after_batch1", lit(afterBatch1))
      .write.mode("overwrite").parquet(s"$out/result")
    readBackCleaned(spark, out)(identity)
  }

  val streamDerivedTableOracleSql: String =
    """SELECT lang, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              (SELECT count(*) FROM documents WHERE doc_id % 3 < 2) AS docs_after_batch1
       FROM documents GROUP BY lang ORDER BY lang"""

  /** X-STRw — STREAMING CDC APPLY UNDER MERGE-ON-READ: the production
    * shape deletion vectors exist for. A re-crawl stream lands in an
    * upstream catalog table; each micro-batch MERGEs DOC-LEVEL rows into
    * a CORPUS-SIZED downstream mirror declared
    * `write.row_level.mode = merge-on-read`. Under COW every batch's
    * matched keys would rewrite their files — write amplification ∝
    * matched files × batch count, the pattern that makes continuous
    * upsert ingest infeasible at 100 TB. Under MOR each batch commits
    * tombstone blobs + appended rows: cost ∝ THE BATCH, and the
    * downstream never rewrites a data file (pinned: zero files removed
    * across every downstream commit, tombstones present). Batch 1 seeds
    * the evens (all NOT MATCHED); batch 2 re-delivers the whole corpus,
    * so its evens exercise MATCHED-as-delete+reinsert and its odds
    * insert — the final mirror is fully relational and the oracle
    * replays it. OPTIMIZE (q_sql_compact's verb) is the read-side
    * repair, deliberately not run here: the query pins the WRITE path's
    * zero-rewrite contract. */
  def streamMorUpsertEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, cat) = graft.operators.SqlVerbs.sessionAndCatalog(spark, dir)
    val up = s"$cat.main.docs_recrawl"
    val down = s"$cat.main.docs_mirror"
    val out = scratchDir("morupsert")
    ss.sql(s"DROP TABLE IF EXISTS $up")
    ss.sql(s"DROP TABLE IF EXISTS $down")
    ss.sql(s"CREATE TABLE $up (doc_id BIGINT, lang STRING, n_chars BIGINT)")
    ss.sql(s"CREATE TABLE $down (doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "TBLPROPERTIES ('write.row_level.mode'='merge-on-read')")
    graft.Tables.documents(ss, dir).select("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("docs_recrawl_src")
    def drain(): Unit = {
      val q = ss.readStream.table(up)
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = batch.sparkSession
          batch.createOrReplaceTempView("mor_upsert_delta")
          bs.sql(
            s"""MERGE INTO $down t USING mor_upsert_delta s ON t.doc_id = s.doc_id
                WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 10
                WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                  VALUES (s.doc_id, s.lang, s.n_chars)""")
          ()
        }
        .start()
      q.awaitTermination()
    }
    ss.sql(s"INSERT INTO $up SELECT * FROM docs_recrawl_src WHERE doc_id % 2 = 0")
    drain() // seed: all NOT MATCHED
    ss.sql(s"INSERT INTO $up SELECT * FROM docs_recrawl_src")
    drain() // re-crawl: evens MATCHED (delete+reinsert deltas), odds insert
    val latest = graft.catalog.Manifests.latestVersion(ss, down)
    val removedAcross = (1 to latest)
      .map(v => graft.catalog.Manifests.commitFileDiff(ss, down, v)._2).sum
    val tombstones = graft.catalog.Manifests.dvInfo(ss, down, latest).values.map(_._2).sum
    val agg = ss.sql(
      s"""SELECT count(*) AS n_docs, sum(n_chars) AS sum_chars,
                 count(DISTINCT lang) AS n_langs FROM $down""").head()
    import ss.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
      removedAcross == 0, tombstones >= 1L))
      .toDF("n_docs", "sum_chars", "n_langs", "no_files_rewritten", "wrote_tombstones")
      .write.mode("overwrite").parquet(s"$out/result")
    readBackCleaned(spark, out)(identity)
  }

  val streamMorUpsertOracleSql: String =
    """WITH v AS (SELECT doc_id, lang,
                         CASE WHEN doc_id % 2 = 0 THEN n_chars + 10 ELSE n_chars END AS n_chars
                  FROM documents)
       SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(DISTINCT lang) AS n_langs,
              true AS no_files_rewritten, true AS wrote_tombstones
       FROM v"""

  /** X-STRe — STREAMING CDC APPLY UNDER EQUALITY DELETES (VERDICT r15
    * #2): the ZERO-READ twin of [[streamMorUpsertEndToEnd]]. The MOR
    * mirror's MERGE resolves matched rows to (file, pos) — a corpus-side
    * LOOKUP on every batch, bounded by group filtering but still IO ∝
    * matched files. Here each batch goes through `CALL system.eq_upsert`:
    * insert files + ONE key-valued tombstone blob, NO fact file opened —
    * per-batch write cost ∝ the batch alone, the Flink→Iceberg CDC
    * contract. Pins: every downstream data commit is an `equpsert`
    * append (zero files removed — the op itself never plans a scan of
    * the target), tombstones are live after the drains, the read path
    * serves eq-MASKED rows (plan-derived), and `CALL system.compact`
    * then materializes the tombstones away with content UNCHANGED (the
    * nightly repair restoring folds/SPJ/limit pruning). Batch 1 seeds
    * the evens; batch 2 re-delivers the whole corpus with n_chars + 10 —
    * so evens exercise tombstone-then-reinsert (the sequence rule: the
    * re-insert survives its own batch's tombstone) and odds are fresh
    * inserts. Fully relational; the oracle replays the last image. */
  def streamEqUpsertEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val (ss, cat) = graft.operators.SqlVerbs.sessionAndCatalog(spark, dir)
    val up = s"$cat.main.docs_recrawl_eq"
    val down = s"$cat.main.docs_eq_mirror"
    val out = scratchDir("equpsert")
    ss.sql(s"DROP TABLE IF EXISTS $up")
    ss.sql(s"DROP TABLE IF EXISTS $down")
    ss.sql(s"CREATE TABLE $up (doc_id BIGINT, lang STRING, n_chars BIGINT)")
    ss.sql(s"CREATE TABLE $down (doc_id BIGINT, lang STRING, n_chars BIGINT)")
    graft.Tables.documents(ss, dir).select("doc_id", "lang", "n_chars")
      .createOrReplaceTempView("docs_eq_src")
    def drain(): Unit = {
      val q = ss.readStream.table(up)
        .writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = batch.sparkSession
          batch.createOrReplaceTempView("eq_upsert_delta")
          bs.sql(s"CALL $cat.system.eq_upsert(table => 'main.docs_eq_mirror', " +
            "source => 'eq_upsert_delta', key => 'doc_id')")
          ()
        }
        .start()
      q.awaitTermination()
    }
    ss.sql(s"INSERT INTO $up SELECT * FROM docs_eq_src WHERE doc_id % 2 = 0")
    drain() // seed image
    ss.sql(s"INSERT INTO $up SELECT doc_id, lang, n_chars + 10 FROM docs_eq_src")
    drain() // re-crawl: full corpus re-delivered with a bumped image
    val latest = graft.catalog.Manifests.latestVersion(ss, down)
    // every data commit an append (the write path never rewrote a file),
    // published by the eq_upsert op
    val appendOnly = (1 to latest).forall { v =>
      graft.catalog.Manifests.commitFileDiff(ss, down, v)._2 == 0 &&
        graft.catalog.Manifests.opOf(ss, down, v) == "equpsert"
    }
    val eqLive = graft.catalog.Manifests.eqInfo(ss, down, latest)
    val wroteTombstones = eqLive.nonEmpty && eqLive.forall(_._2 == "doc_id")
    val masked = ss.sql(s"SELECT doc_id FROM $down")
      .queryExecution.executedPlan.toString.contains("eq-masked scan")
    val before = ss.sql(
      s"""SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
               count(DISTINCT lang) AS l FROM $down""").head()
    // the nightly repair: a full compact materializes the tombstones
    ss.sql(s"CALL $cat.system.compact(table => 'main.docs_eq_mirror', target_files => 4)")
    val after = ss.sql(
      s"""SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
               count(DISTINCT lang) AS l FROM $down""").head()
    val compacted = graft.catalog.Manifests.eqInfo(ss, down,
      graft.catalog.Manifests.latestVersion(ss, down)).isEmpty &&
      before == after
    import ss.implicits._
    Seq((after.getLong(0), after.getLong(1), after.getLong(2),
      appendOnly, wroteTombstones, masked, compacted))
      .toDF("n_docs", "sum_chars", "n_langs",
        "append_only_writes", "wrote_tombstones", "eq_masked_read",
        "compact_materialized")
      .write.mode("overwrite").parquet(s"$out/result")
    readBackCleaned(spark, out)(identity)
  }

  val streamEqUpsertOracleSql: String =
    """SELECT count(*) AS n_docs,
              CAST(sum(n_chars + 10) AS BIGINT) AS sum_chars,
              count(DISTINCT lang) AS n_langs,
              true AS append_only_writes, true AS wrote_tombstones,
              true AS eq_masked_read, true AS compact_materialized
       FROM documents"""

  def streamLateAuditEndToEnd(spark: SparkSession, dir: String): DataFrame =
    streamLateAuditWithMetrics(spark, dir)._1

  /** Watermark delay for [[streamLateAuditWithMetrics]]: 360 h (15 days)
    * lands the watermark mid-range of the 30-day event corpus, so the
    * held-back late cohort splits into BOTH accepted and dropped halves —
    * a drop-rule pin needs rows on each side of the line. */
  private[graft] val LateAuditDelayMs: Long = 360L * 3600 * 1000

  /** WATERMARK LATE-DATA ACCOUNTING — the one streaming semantic the
    * other twelve stream queries leave unpinned: WHICH late rows a
    * watermarked aggregation drops, and how many. Every 10th event
    * (`event_id % 10 == 0` — deterministic, orthogonal to time) is held
    * back; phase 1 drains the other 90 % through an update-mode hourly
    * aggregation (watermark starts at 0 — nothing drops, and the
    * committed watermark becomes `floor(max_phase1_ts_ms) − delay`);
    * phase 2 resumes the SAME checkpoint and delivers the late cohort in
    * ONE file/batch, so every late row is filtered against exactly that
    * phase-1 watermark. Spark's rule — a late row survives iff its
    * WINDOW END (micros) exceeds `watermarkMs × 1000`, not its own event
    * time — is replicated verbatim by the DuckDB oracle, so a divergence
    * in truncation, boundary strictness, or filter placement trips the
    * hash. The emitted `n_late_dropped` is derived from the sink totals
    * (`n_late − (Σn_events − n_phase1)`), i.e. from what the engine
    * actually kept; the spec separately pins the state-store's own
    * `numRowsDroppedByWatermark` metric to the same number.
    *
    * Scale shape: the production pattern end-to-end — update-mode emit
    * of only changed windows, per-batch idempotent `batch=<id>` sink,
    * latest-batch-wins read-back (key-count-sized), watermark state GC.
    * Driver-side work is one scalar per phase. */
  private[graft] def streamLateAuditWithMetrics(
      spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val ss = stateSession(spark) // both lifecycles pay per-partition store cost
    val out = scratchDir("lateaudit")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "in"))
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val lateSet = col("event_id") % 10 === 0
    def dropPhase(name: String, pred: org.apache.spark.sql.Column): Long = {
      val slice = events.filter(pred)
      val stage = java.nio.file.Paths.get(s"$out/stage_$name")
      // ONE file per phase: the file source then feeds each phase as ONE
      // micro-batch, so every late row is filtered against the phase-1
      // watermark (a multi-file late drop could advance the watermark
      // between its own batches and blur the pinned rule)
      slice.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(stage)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$out/in/${name}_$i.parquet"))
      }
      slice.count()
    }
    def runToDrained(): org.apache.spark.sql.streaming.StreamingQuery = {
      // written slices are always normalized TimestampType (the writer is
      // this session), so the stream schema is fixed — no footer probe
      val stream = ss.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .parquet(s"$out/in")
      val q = stream
        .withWatermark("ts", s"$LateAuditDelayMs milliseconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/result/batch=$id")
        }
        .start()
      q.awaitTermination()
      q
    }
    val nOnTime = dropPhase("ontime", !lateSet)
    runToDrained() // phase 1: 90% on time; commits the mid-range watermark
    val nLate = dropPhase("late", lateSet)
    val q2 = runToDrained() // phase 2: the late cohort vs that watermark
    val wmDropped = q2.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    // latest-batch-wins per window key (counts only grow; update mode
    // re-emits a key with its new total every time it changes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_start", "event_type").orderBy(col("batch").desc)
    val finalRows = spark.read.parquet(s"$out/result")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("hour_start"), col("event_type"), col("n_events"))
      .localCheckpoint(true)
    val acceptedTotal = finalRows.agg(sum(col("n_events"))).head().getLong(0)
    val nLateDropped = nLate - (acceptedTotal - nOnTime)
    val result = finalRows
      .withColumn("n_late_dropped", lit(nLateDropped))
      .localCheckpoint(true)
    graft.Artifacts.deleteTree(java.nio.file.Paths.get(out))
    (result, nLateDropped, wmDropped)
  }

  /** DuckDB oracle for [[streamLateAuditWithMetrics]] — Spark's exact
    * drop rule, spelled out: watermark = floor(max phase-1 event-time
    * millis) − delay; a held-back row survives iff its hour-window END in
    * MICROS exceeds watermark-millis × 1000. */
  val streamLateAuditOracleSql: String =
    s"""WITH p1 AS (SELECT * FROM events WHERE event_id % 10 <> 0),
       lt AS (SELECT * FROM events WHERE event_id % 10 = 0),
       wm AS (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT)
                     - $LateAuditDelayMs AS wm_ms FROM p1),
       accl AS (SELECT lt.* FROM lt, wm
                WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
                      > wm_ms * 1000),
       acc AS (SELECT * FROM p1 UNION ALL SELECT * FROM accl),
       agg AS (SELECT date_trunc('hour', ts) AS hour_start, event_type,
                      count(*) AS n_events
               FROM acc GROUP BY 1, 2),
       drp AS (SELECT (SELECT count(*) FROM lt) - (SELECT count(*) FROM accl)
                        AS n_late_dropped)
       SELECT hour_start, event_type, n_events, n_late_dropped
       FROM agg CROSS JOIN drp ORDER BY hour_start, event_type"""

  /** STREAMING IMAGE NEAR-DUP — the multimodal twin of
    * [[streamNearDupEndToEnd]]: arriving documents build/decode their
    * BMP payload and compute the 64-bit dHash PER ROW (the stateless
    * narrow [[graft.operators.Multimodal.withPHash]] kernel — payload
    * bytes never leave the micro-batch task), then a stream-static
    * banded hamming join probes the corpus phash table (re-planned per
    * batch, the nightly-index read flow). The 4×16-bit banding is
    * pigeonhole-exact at hamming ≤ 3, so the stream finds EVERY
    * qualifying (new image, corpus image) pair — oracle is brute force
    * over the closed-form hashes. */
  def streamImageDedupEndToEnd(spark: SparkSession, dir: String,
                               maxHamming: Int = 3): DataFrame = {
    import graft.operators.Multimodal
    val ss = stateSession(spark)
    val splitFrom = graft.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0) * 9 / 10
    // static side: the corpus phash table (16 bytes/image), band-exploded
    val corpus = Multimodal.perceptualHash(ss, dir)
      .filter(col("doc_id") < splitFrom)
      .select(col("doc_id").as("corpus_doc"),
        col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b"),
        explode(Multimodal.phashBands(col("phash_hi"), col("phash_lo"))).as("band"))
      .localCheckpoint()
    val out = scratchDir("imagededup")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "documents.parquet"))
    val newHashes = Multimodal.withPHash(
        ss.readStream.schema(docSchema).parquet(watchDir.toString)
          .filter(col("doc_id") >= splitFrom)
          .select("doc_id", "text"))
      .select(col("doc_id").as("new_doc"),
        col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a"),
        explode(Multimodal.phashBands(col("phash_hi"), col("phash_lo"))).as("band"))
    val pairs = newHashes.join(corpus, Seq("band"))
      .dropDuplicates("new_doc", "corpus_doc")
      .select(col("new_doc"), col("corpus_doc"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val q = pairs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** DuckDB oracle for [[streamImageDedupEndToEnd]] — brute-force
    * new-decile × corpus hamming over the closed-form dHashes. */
  def streamImageDedupOracleSql(maxHamming: Int = 3): String =
    s"""WITH ph AS (${graft.operators.Multimodal.perceptualHashOracleSql
         .replace("ORDER BY doc_id", "")}),
       split AS (SELECT (max(doc_id) * 9) // 10 AS sf FROM documents)
       SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
              CAST(bit_count(xor(n.phash_hi, c.phash_hi))
                   + bit_count(xor(n.phash_lo, c.phash_lo)) AS BIGINT) AS hamming
       FROM ph n JOIN ph c ON n.doc_id <> c.doc_id
       CROSS JOIN split
       WHERE n.doc_id >= split.sf AND c.doc_id < split.sf
         AND bit_count(xor(n.phash_hi, c.phash_hi))
             + bit_count(xor(n.phash_lo, c.phash_lo)) <= $maxHamming
       ORDER BY new_doc, corpus_doc"""

  /** STREAMING ANN SERVING — the online leg of the IVF lifecycle (build
    * `q_ann_ivf` → maintain `q_ivf_refresh` → serve here): new vectors
    * (top decile of vec_id) arrive as a micro-batched stream and each is
    * answered with its IVF top-k against the indexed old corpus — probe
    * the nProbe nearest of the PINNED coarse cells (broadcast centroid
    * table), exact-cosine only the postings in probed cells. The per-new
    * -vector ranking runs inside foreachBatch (append-mode streams admit
    * no window functions; per-entity ranking in the batch hook is the
    * production pattern, and it is exact here because each vector occurs
    * in exactly one batch).
    *
    * Scale shape per micro-batch: |batch|·C dot products against a
    * broadcast C·dim centroid table, then an equi-join on cell that
    * touches ≈ nProbe/C of the postings — never the corpus, never
    * batch×corpus. The DuckDB oracle replays the identical deterministic
    * pipeline (pinned lowest-id centroids, argmax assignment, id-broken
    * ties), so the approximate answer itself is exactly verified. */
  def streamAnnEndToEnd(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import graft.operators.Similarity
    val (splitFrom, cent, assigned, nProbe) = Similarity.ivfServingIndex(spark, dir)
    val out = scratchDir("streamann")
    val watchDir = java.nio.file.Paths.get(out, "in")
    linkIntoWatchDir(watchDir, java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
      StructField("label", IntegerType)))
    val newStream = spark.readStream.schema(embSchema).parquet(watchDir.toString)
      .filter(col("vec_id") >= splitFrom)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qemb"))
    val q = newStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("csim"), asc("cell"))
        val probes = batch.join(broadcast(cent))
          .select(col("query_id"), col("qemb"), col("cell"),
            expr("cosine_sim(qemb, cemb)").as("csim"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= nProbe)
          .select("query_id", "qemb", "cell")
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("sim_raw"), asc("neighbor_id"))
        assigned.join(probes, Seq("cell"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            expr("cosine_sim(emb, qemb)").as("sim_raw"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("sim_raw"), 6).as("sim"))
          .write.mode("append").parquet(s"$out/result")
      }
      .start()
    q.awaitTermination()
    readBackCleaned(spark, out)(identity)
  }

  /** DuckDB oracle for [[streamAnnEndToEnd]] — the full deterministic
    * IVF probe of the new decile against the old-corpus index. */
  def streamAnnOracleSql(k: Int = 3): String = {
    def cos(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       split AS (SELECT (max(vec_id) * 9) // 10 AS sf FROM e),
       old AS (SELECT vec_id, emb FROM e, split WHERE vec_id < sf),
       shape AS (SELECT LEAST(4096, GREATEST(4,
                   CAST(floor(sqrt(count(*) / 2.0)) AS INTEGER))) AS nc FROM old),
       np AS (SELECT GREATEST(1, nc // 4) AS np FROM shape),
       cent AS (SELECT vec_id AS cell, emb AS cemb FROM old, shape
                WHERE vec_id < nc),
       assigned AS (
         SELECT vec_id, emb, cell FROM (
           SELECT x.vec_id, x.emb, c.cell,
                  row_number() OVER (PARTITION BY x.vec_id
                    ORDER BY ${cos("x.emb", "c.cemb")} DESC, c.cell ASC) AS rn
           FROM old x, cent c) t WHERE rn = 1),
       nw AS (SELECT vec_id AS query_id, emb AS qemb FROM e, split
              WHERE vec_id >= sf),
       probes AS (
         SELECT query_id, qemb, cell FROM (
           SELECT n.query_id, n.qemb, c.cell,
                  row_number() OVER (PARTITION BY n.query_id
                    ORDER BY ${cos("n.qemb", "c.cemb")} DESC, c.cell ASC) AS rn
           FROM nw n, cent c) t, np WHERE rn <= np.np),
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id,
                ${cos("a.emb", "p.qemb")} AS sim
         FROM probes p JOIN assigned a ON a.cell = p.cell)
       SELECT query_id, neighbor_id, rnk AS "rank", round(sim, 6) AS sim
       FROM (SELECT query_id, neighbor_id, sim,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id ASC) AS rnk
             FROM cand) t
       WHERE rnk <= $k
       ORDER BY query_id, rnk"""
  }
}
