package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** THE CHANGE FEED AS A STREAMING SOURCE (VERDICT r12 #4): the
  * `cat.ns.t.changes` suffix identifier (sibling of the `branch_` WAP
  * idiom) loads a read-only view whose micro-batches are the ROW-LEVEL
  * CHANGES of the base table's commits — Delta's `readChangeFeed` stream,
  * re-derived from this catalog's copy-on-write manifests. Where the
  * plain version-tail source must FAIL on a COW rewrite (it can only
  * re-emit files, and re-emitting a rewrite duplicates everything), this
  * view serves exactly what the rewrite changed: now that row-level
  * commits are file-granular, the per-commit delta costs the files the
  * commit touched, never the table.
  *
  * Schema: the base table's columns + `_change_type` (insert / delete /
  * update_preimage / update_postimage, the latter pair when `key_cols`
  * is given) + `_commit_version`. Options:
  *
  *  - `starting_version` (default: the CURRENT latest) — the stream
  *    emits changes of commits STRICTLY AFTER it; `0` replays the whole
  *    retained history.
  *  - `key_cols` — comma-separated snapshot-unique key, pairs rewrite
  *    deltas into update pre/post images (same contract as
  *    [[ChangeFeed.tableChanges]]).
  *  - `max_versions_per_trigger` — admission control, as on the plain
  *    source.
  *
  * == Materialize-once mechanics ==
  *
  * A commit's delta is a PLAN (exceptAll / key-pairing over the touched
  * files), not a file list — but a micro-batch source must hand Spark
  * scannable partitions, and a checkpoint replay must see the same batch
  * twice. So the first stream to consume commit v runs the delta plan
  * once and caches it as parquet under `<table>/cdf/v<v>-k<keys>/`
  * (staged to a temp dir, ATOMIC_MOVE into place; a racing materializer
  * loses the move and discards its copy). Every later consumer — and
  * every replay — plans a plain parquet scan over the cached dir. Cost:
  * one read of the commit's touched files, ever, per key choice;
  * `dataChange = false` compactions contribute nothing (OPTIMIZE stays
  * invisible); a commit whose parent manifest was expired fails loudly,
  * exactly like the batch feed. Batch CDF stays on-demand
  * ([[ChangeFeed.tableChanges]]) — nothing is written unless a stream
  * actually tails the table. */
class GraftCdfTable(tableName: String, base: GraftTable)
    extends Table with SupportsRead {

  private[catalog] def cdfSchema: StructType = base.schema()
    .add(ChangeFeed.ChangeTypeCol, StringType, nullable = true)
    .add(ChangeFeed.CommitVersionCol, IntegerType, nullable = true)

  override def name(): String = tableName
  override def schema(): StructType = cdfSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = cdfSchema
      override def description(): String = s"graft CDF tail of ${base.name()}"
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        val keyCols = Option(options.get("key_cols")).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        keyCols.foreach(k => require(base.schema().fieldNames.exists(_.equalsIgnoreCase(k)),
          s"key_cols column '$k' is not in ${base.schema().fieldNames.mkString(", ")}"))
        new GraftCdfMicroBatchStream(base, cdfSchema, keyCols,
          Option(options.get("starting_version")).map(_.toInt),
          Option(options.get("max_versions_per_trigger")).map(_.toInt))
      }
    }
}

/** Offsets are manifest versions ("changes emitted through v"), the same
  * currency as the plain tail; batches are parquet scans over the
  * materialize-once per-commit CDF dirs (see [[GraftCdfTable]]). */
private[catalog] class GraftCdfMicroBatchStream(table: GraftTable, cdfSchema: StructType,
                                                keyCols: Seq[String],
                                                startingVersion: Option[Int],
                                                maxVersionsPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  maxVersionsPerTrigger.foreach(k =>
    require(k >= 1, s"max_versions_per_trigger must be >= 1, got $k"))
  startingVersion.foreach(v =>
    require(v >= 0, s"starting_version must be >= 0, got $v"))

  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.currentMeta.latest)

  override def initialOffset(): Offset =
    GraftVersionOffset(startingVersion.getOrElse(table.currentMeta.latest))
  override def latestOffset(): Offset = GraftVersionOffset(table.currentMeta.latest)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = GraftVersionOffset(table.currentMeta.latest)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset]
    val latest = availableNowTarget.getOrElse(table.currentMeta.latest)
    val end = maxVersionsPerTrigger match {
      case Some(k) => math.min(latest, s.v + k)
      case None => latest
    }
    if (end <= s.v) s else GraftVersionOffset(end)
  }
  override def deserializeOffset(json: String): Offset = GraftVersionOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    val m = table.currentMeta
    val dirs = ((s + 1) to e).flatMap { v =>
      m.history.find(_.version == v).getOrElse(throw new IllegalStateException(
        s"${table.name()}: version $v was expired by snapshot retention; its change " +
          "feed is unreconstructable — start a fresh stream from a retained version"))
      ensureMaterialized(m, v)
    }
    val files = dirs.flatMap { d =>
      val l = Files.list(d)
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq
      finally l.close()
    }
    if (files.isEmpty) Array.empty
    else table.cdfScanOver(files, cdfSchema).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    table.cdfScanOver(Nil, cdfSchema).toBatch.createReaderFactory()

  /** Materialize commit v's CDF rows once (see class doc); None when the
    * commit changed no rows. Returns the cached dir. */
  private def ensureMaterialized(m: TableMeta, v: Int): Option[Path] = {
    val keyTag = if (keyCols.isEmpty) "none" else keyCols.mkString("_")
    val target = table.tableDirPath.resolve("cdf").resolve(s"v$v-k$keyTag")
    if (Files.exists(target)) return Some(target)
    val df = ChangeFeed.changesOfCommit(SparkSession.active, table.tableDirPath,
      m, m.history, v, keyCols)
    df match {
      case None => None
      case Some(delta) =>
        Files.createDirectories(target.getParent)
        val tmp = Files.createTempDirectory(target.getParent, s".v$v-")
        delta.write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException |
               _: java.nio.file.AccessDeniedException =>
            // a racing materializer won; ours is a byte-equal duplicate
            graft.Artifacts.deleteTree(tmp)
        }
        Some(target)
    }
  }
}
