package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Parquet table loaders for the driver testdata star schema
  * (TESTDATA.md; scan op S5 in SURVEY.md §2.1).
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * Parquet reader, column pruning, and filter pushdown apply. Callers
  * select columns as early as possible so `ReadSchema` stays minimal.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts arrives as TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet,
    * read as plain TimestampType under the UTC session (Sessions disables
    * TIMESTAMP_NTZ inference). Earlier testdata generations stamped
    * TIMESTAMP(NANOS), which `spark.sql.legacy.parquet.nanosAsLong=true`
    * surfaces as a raw long — that arm normalizes via integer division
    * (`/` on longs would go through double and lose precision at 1e18 ns),
    * so either generation loads identically. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a SMALL input out across the cores before a per-row-HEAVY stage
    * (optimization guide §2.5: an unsplittable input gets repartitioned
    * right after the read). The driver testdata tables are single-row-group
    * parquet files — parquet is row-group-atomic, so a scan yields ONE
    * non-empty task no matter how many byte-range splits the planner makes,
    * and every expensive map stage above it (shingle/bigram explodes,
    * 128-hash MinHash, md5 bucketing, Hadamard rotations) runs serial on
    * one of the cores.
    *
    * Scale-adaptive, derived from input size (never a local-only pin): the
    * spread fires only when the optimizer's size estimate is below
    * `max(spark.sql.shuffle.partitions, defaultParallelism) ×
    * spark.sql.files.maxPartitionBytes`. That cutoff scales with config —
    * it is also the most this exchange can ever move — so below it the
    * added shuffle is cheaper than the serial stage it breaks up; at or
    * above it (any real 100 TB scan plans thousands of row groups) this is
    * the identity. The exchange itself is [[spread]]: a hash on the whole
    * row, not round-robin. The hash reads every column, so column pruning
    * stops at it: callers narrow the frame to the raw columns their stage
    * reads before the call (keeping the row key, e.g. `doc_id`, so the
    * rows stay distinct and spread evenly) and compute the heavy
    * expressions after it. */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // Target width = the session's deliberate shuffle sizing, floored at
    // the scheduler's current slot count (ADVICE r16: under dynamic
    // allocation defaultParallelism reflects only currently-registered
    // executors at plan-build time, pinning too few partitions; the
    // shuffle-partition setting is the configured intent).
    val target = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val cutoff = BigInt(target.toLong) *
      spark.sessionState.conf.filesMaxPartitionBytes
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes >= cutoff) df
    else spread(df, target)
  }

  /** Hash-distribute `df` over `n` partitions on ALL of its columns — the
    * one spreading exchange of [[fanOut]] and the pipeline's chunked
    * staging writes.
    *
    * Retry-safe without a sort: a row's partition is a function of its
    * content, so a retried map task rebuilds exactly the partitions its
    * first attempt wrote. Round-robin is not (its assignment follows input
    * order), which is why Spark sorts every row before a round-robin
    * exchange (`spark.sql.execution.sortBeforeRepartition`) — a whole-row
    * hash, a copy and a sort per row. The hash partitioner computes one
    * hash per row and nothing else; Spark adds that sort to round-robin
    * exchanges only, and the setting stays on for any round-robin the
    * program still plans.
    *
    * Identical rows land in one partition, so a DISTINCT or partial
    * aggregate above the spread dedups them locally before its own
    * exchange. The flip side is that a frame of few distinct rows spreads
    * over few partitions. */
  def spread(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, df.columns.map(c => col(s"`$c`")).toSeq: _*)

  /** Stage `df` for the duration of `use`, then release it: the one
    * staging policy of the LLM-data operators (PAPER.md §1.1 — each
    * intermediate is staged once and dropped after its consumers ran).
    *
    * A spillable `MEMORY_AND_DISK` persist, not a `localCheckpoint`:
    * checkpointed partitions pin executor storage and cannot recompute on
    * executor loss, while a persist spills when memory runs out and
    * rebuilds from lineage if an executor dies. The release rides a
    * `finally`, so a failing action inside `use` (a probe, a collect, the
    * materialization) never strands corpus-sized blocks for the session's
    * lifetime, and no stage waits for driver GC to be freed.
    *
    * A result that reads the stage must be computed before the release:
    * return it through [[materialize]] or collect it to a local relation.
    * A lazy frame returned as-is would recompute over released storage. */
  def withStaged[A](df: DataFrame)(use: DataFrame => A): A = {
    val staged = df.persist(StorageLevel.MEMORY_AND_DISK)
    try use(staged) finally staged.unpersist(blocking = false)
  }

  /** Cache and count a small (pair-, pack- or audit-sized) result while
    * the stages it reads are still live inside [[withStaged]]: callers
    * get the cached relation, not a lineage over released blocks. Costs
    * one result-sized pass. */
  def materialize(out: DataFrame): DataFrame = {
    out.cache().count()
    out
  }
}
