package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions._

/** One tuned SparkSession builder shared by Verify / Bench / tests.
  *
  * Local-mode settings that mirror what a real cluster deploy would set:
  * shuffle partitions sized to cores (not the 200 default), AQE on for
  * runtime coalescing/skew handling, UTC for oracle parity, and the
  * legacy nanos-as-long switch because the driver testdata's events.ts
  * is TIMESTAMP(NANOS) parquet (normalized in [[Tables.events]]).
  *
  * == Deploying this config on a real cluster (do NOT copy the local pins) ==
  *
  * Two of the numbers below are sized for local[32] against <=sf0.1 data
  * and must be re-derived for a 1000-executor / 100 TB deployment:
  *
  *  - `spark.sql.shuffle.partitions` is pinned to the local core count
  *    because AQE's coalescing can only MERGE partitions, never split
  *    them — the right cluster posture is AQE on with
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum` scaled
  *    to input size (~ bytes scanned / 128 MiB target partition; at
  *    100 TB that's O(100k) initial partitions) and
  *    `spark.sql.shuffle.partitions` left at a generous default. The
  *    initial number is the UPPER bound AQE coalesces down from; a
  *    core-count pin at cluster scale would make every shuffle partition
  *    hold ~3 GB and spill.
  *  - `spark.sql.autoBroadcastJoinThreshold` (64 MiB here) should be
  *    sized to executor memory: broadcast joins materialize the build
  *    side per executor, so the threshold scales with
  *    `spark.executor.memory` (a 64 GB executor comfortably broadcasts
  *    512 MiB dims), and dimension tables beyond it should be bucketed
  *    (see [[graft.operators.Bucketing]]) instead of shuffled per query.
  *
  * Streaming state stores have their own partition-count rule — sized to
  * key cardinality/throughput at FIRST run and pinned into the checkpoint
  * forever after; see [[graft.streaming.StreamingOps]]' stateSession.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(appName: String = "graft"): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$n]")
      // native Catalyst extensions (SURVEY §7.2): custom codegen'd
      // expressions registered through the public extensions API
      .withExtensions { ext =>
        Seq[SessionFunction](CosineSimilarity, ScriptClass, ArrayAgreeCount,
            ArrayIntersectCount, SortedIntersectCount, LevenshteinWithin,
            UnicodeNormalize, CharEntropy, MinHashBands)
          .foreach(f => ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
        // graft-catalog SQL views: DDL intercepted at parse time (Spark
        // 4.1's ResolveSessionCatalog refuses v2 view DDL before custom
        // resolution rules run), reads resolved by rule — see
        // graft.catalog.GraftViewStore for the design note
        ext.injectParser((session, delegate) =>
          new graft.catalog.GraftViewParser(session, delegate))
        ext.injectResolutionRule(session =>
          new graft.catalog.GraftResolveViews(session))
      }
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Driver live-set hygiene (guide §5: "the driver should do almost
      // no data work" — and should not silently RETAIN it either). Even
      // with the UI off, the AppStatus/SQLAppStatus listeners feed an
      // in-memory KVStore with per-job/stage/task wrappers and one entry
      // per SQL execution holding the FULL plan description — at the
      // defaults (1000 jobs/stages, 100k tasks, 1000 executions) a
      // long-lived driver running many queries (this engine's bench: 290
      // queries + streaming micro-batches, each batch one execution)
      // accumulates hundreds of MB of dead diagnostics and the GC debt
      // that goes with it; at 100 TB scale (millions of tasks) the task
      // default alone is a known driver-memory hazard. Nothing reads the
      // store here (UI off), so keep a short diagnostic window only.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the regenerated driver testdata stamps timestamps with
      // isAdjustedToUTC=false; read them as plain TIMESTAMP (UTC session)
      // rather than TIMESTAMP_NTZ so unix_micros/windowing/oracle parity
      // keep working unchanged
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // never write legacy INT96 timestamps: the 9999-12-31 SCD-2 high
      // date overflows int64 *nanoseconds* when downstream readers
      // (pandas/pyarrow, the driver's hasher) decode INT96, silently
      // wrapping to 2001-08-01. Micros round-trips exactly.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // absolute warehouse path so saveAsTable (bucketed tables) works
      // regardless of the harness's working directory
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // storage-partitioned joins over graft catalog bucket(n, col)
      // tables (see graft.catalog.Spj): v2 bucketing lets Spark plan a
      // co-bucketed equi-join with zero Exchange; pushPartValues pads
      // partition-value mismatches (a bucket present on one side only)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // one-side-shuffle SPJ (SPARK-41471): when a bucketed corpus joins
      // an UNBUCKETED relation (the daily-delta join), shuffle only the
      // unbucketed side INTO the corpus's KeyGroupedPartitioning — the
      // bucket layout then pays on every join, not only co-bucketed ones
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      // resolve parquet columns by FIELD ID when the read schema carries
      // ids (graft catalog tables do — see graft.catalog.FieldIds): the
      // identity layer under metadata-only column RENAME/DROP. Schemas
      // without id metadata (every non-catalog read) are untouched.
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
