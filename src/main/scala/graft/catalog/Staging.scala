package graft.catalog

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** ATOMIC CTAS / RTAS (r15): the [[StagedTable]] Spark's atomic
  * CREATE/REPLACE TABLE AS SELECT plans write through. Data stages into
  * a commit subdir of the table's own directory (clustered/bucketed
  * write contract included — the staged layout is the DECLARED one),
  * and publication is a single manifest write under the table's commit
  * lock:
  *
  *  - CREATE: the manifest appears only at commitStagedChanges — a
  *    failed CTAS leaves no half-table, a concurrent CREATE loses
  *    cleanly (TableAlreadyExists at commit, staged files orphaned for
  *    remove_orphans).
  *  - REPLACE: one more versioned commit (op `replace-table`) carrying
  *    ONLY the staged files and its own SCHEMA ERA — the previous
  *    generation stays readable under time travel forever, exactly like
  *    every other commit. Field ids are preserved BY NAME across the
  *    replace (Iceberg's rule), so a column that survives the rewrite
  *    keeps its identity; fresh names get fresh ids. A REPLACE races
  *    like copy-on-write: any commit landing after staging began fails
  *    the expectedLatest guard instead of being silently overwritten.
  *
  * Guards: WAP branches must be closed (publish would fast-forward a
  * stale schema id); introducing or CHANGING a bucket layout is refused
  * while retained versions still reference files (their recorded bucket
  * ids were computed under the old layout — same rule as
  * set_clustering); dropping the layout or keeping it identical is
  * always fine (the staged write re-fans everything anyway). */
private[catalog] class StagedGraftTable(
    tableName: String, dir: Path, schema0: StructType,
    clusterBy: Seq[String], userProps: Map[String, String],
    mode: StagedGraftTable.Mode) extends StagedTable with SupportsWrite {
  import StagedGraftTable._

  private val existsAtStage = Files.exists(dir.resolve(TableMeta.MetaFile))
  mode match {
    case Create => if (existsAtStage)
      throw new TableAlreadyExistsException(tableName.split('.').toSeq)
    case Replace => require(existsAtStage, s"$tableName: REPLACE of a missing table")
    case CreateOrReplace => ()
  }

  /** The snapshot the staging was planned against: REPLACE commits
    * conflict-check against it (a racing writer must fail loudly, not
    * be overwritten), and field ids are preserved from its schema —
    * staged files embed them, so the base may not move underneath. */
  private val baseMeta: Option[TableMeta] =
    if (existsAtStage) Some(TableMeta.read(dir)) else None

  baseMeta.foreach { m =>
    require(m.branches.isEmpty,
      s"$tableName: REPLACE TABLE refused while WAP branches exist " +
        s"(${m.branches.keys.toSeq.sorted.mkString(", ")}); publish or drop first")
    val newBucket = clusterBy.flatMap(ClusterSpec.parseBucket).headOption
    val oldBucket = m.clusterBy.flatMap(ClusterSpec.parseBucket).headOption
    if (newBucket.isDefined && newBucket != oldBucket)
      require(m.history.forall(_.files.isEmpty),
        s"$tableName: REPLACE cannot change the bucket layout while retained versions " +
          "still reference files (their recorded bucket ids were computed under the " +
          "old layout); expire them first")
  }

  /** Id-stamped schema of the NEW generation: same-named columns keep
    * their ids across the replace, new names draw fresh ones. */
  private val stampedSchema: StructType = baseMeta match {
    case None => FieldIds.stamp(schema0)
    case Some(m) =>
      var next = FieldIds.nextId(m, m.schema)
      StructType(schema0.fields.map { f =>
        m.schema.fields.find(_.name.equalsIgnoreCase(f.name)).flatMap(FieldIds.idOf) match {
          case Some(id) => FieldIds.withId(f, id)
          case None =>
            val id = next; next += 1
            FieldIds.withId(f, id)
        }
      })
  }

  private val bucket: Option[BucketLayout] =
    clusterBy.flatMap(ClusterSpec.parseBucket).headOption
  private val commitDir: Path =
    dir.resolve("data").resolve(s"c-${UUID.randomUUID().toString.take(12)}")

  /** (manifest-relative files, per-file stats) recorded by the staged
    * write's job commit; published only by commitStagedChanges. */
  @volatile private var stagedFiles: Option[(Seq[String], Map[String, FileStats])] = None

  override def name(): String = tableName
  override def schema(): StructType = stampedSchema
  override def partitioning(): Array[Transform] = clusterBy.map(ClusterSpec.toTransform).toArray
  override def properties(): java.util.Map[String, String] = userProps.asJava
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with SupportsTruncate {
    // the staged write REPLACES by construction; truncate is a no-op ack
    override def truncate(): WriteBuilder = this
    override def build(): Write = {
      val base = buildBase(info)
      if (clusterBy.isEmpty) base
      else new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
        private val orders: Array[SortOrder] = clusterBy.map(c =>
          Expressions.sort(ClusterSpec.toTransform(c),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
        override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions.ordered(orders)
        override def requiredOrdering(): Array[SortOrder] = orders
        override def requiredNumPartitions(): Int = 0
        override def toBatch: BatchWrite = base.toBatch
        override def description(): String = base.description()
      }
    }
  }

  private def buildBase(info: LogicalWriteInfo): Write = new Write {
    override def toBatch: BatchWrite = {
      Files.createDirectories(commitDir)
      val stamped = FieldIds.restamp(stampedSchema, info.schema())
      val merged = new java.util.HashMap[String, String](info.options().asCaseSensitiveMap())
      userProps.get(GraftTable.BloomColumnsProp).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        .foreach(c => merged.put(s"parquet.bloom.filter.enabled#$c", "true"))
      val inner = GraftTable.withFanoutProtocol(bucket.isDefined) {
        ParquetTable(tableName, SparkSession.active,
          new CaseInsensitiveStringMap(java.util.Map.of("path", commitDir.toString)),
          Seq(commitDir.toString), Some(stamped), classOf[ParquetFileFormat])
          .newWriteBuilder(new LogicalWriteInfo {
            override def options(): CaseInsensitiveStringMap = new CaseInsensitiveStringMap(merged)
            override def queryId(): String = info.queryId()
            override def schema(): StructType = stamped
            override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
            override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
          }).build().toBatch
      }
      new BatchWrite {
        override def createBatchWriterFactory(phyInfo: PhysicalWriteInfo): DataWriterFactory = {
          val factory = inner.createBatchWriterFactory(phyInfo)
          bucket match {
            case Some(bl) =>
              val ord = stamped.fieldNames.indexWhere(_.equalsIgnoreCase(bl.column))
              require(ord >= 0, s"$tableName: bucket column '${bl.column}' missing " +
                s"from the staged write schema (${stamped.fieldNames.mkString(", ")})")
              BucketFanoutFactory(factory, bl.numBuckets, ord, stamped(ord).dataType)
            case None => factory
          }
        }
        override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
        override def onDataWriterCommit(message: WriterCommitMessage): Unit =
          inner.onDataWriterCommit(message)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          inner.commit(messages)
          val s = Files.list(commitDir)
          val abs = try s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          finally s.close()
          val files = abs.map(p => dir.relativize(p).toString)
          val stats0 = FooterStats.collect(dir, abs, stamped,
            SparkSession.active.sessionState.newHadoopConf(),
            requireIdsAs = Some(tableName))
          val stats = bucket match {
            case Some(bl) => stats0.map { case (rel, fs) =>
              rel -> fs.copy(bucket = GraftBucket.bucketFromFileName(
                java.nio.file.Paths.get(rel).getFileName.toString, bl.numBuckets))
            }
            case None => stats0
          }
          stagedFiles = Some((files, stats))
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          inner.abort(messages)
      }
    }
  }

  override def commitStagedChanges(): Unit =
    GraftTable.withCommitLock(dir) {
      // an aborted/empty SELECT still publishes the schema (a legal CTAS)
      val (files, stats) = stagedFiles.getOrElse((Seq.empty[String], Map.empty[String, FileStats]))
      val now = System.currentTimeMillis()
      val exists = Files.exists(dir.resolve(TableMeta.MetaFile))
      (mode, exists) match {
        case (Create, true) =>
          throw new TableAlreadyExistsException(tableName.split('.').toSeq)
        case (Replace, false) =>
          throw new IllegalStateException(
            s"$tableName was dropped while the REPLACE was staging")
        case (_, false) =>
          Files.createDirectories(dir.resolve("data"))
          TableMeta.write(dir, TableMeta(stampedSchema,
            Seq(Commit(0, now, "create", Nil),
              Commit(1, now, "ctas", files, stats)),
            clusterBy = clusterBy, props = userProps), expectedLatest = None)
        case (_, true) =>
          val base = baseMeta.getOrElse(throw new IllegalStateException(
            s"$tableName existed at commit but not when staging began; a concurrent " +
              "drop+create raced this REPLACE — rerun it"))
          val m = TableMeta.read(dir)
          require(m.branches.isEmpty,
            s"$tableName: a WAP branch was created while the REPLACE staged; " +
              "publish or drop it and rerun")
          // Generation check (ADVICE r15): the expectedLatest guard below
          // is version-NUMBER based and has an ABA hole — a DROP + CREATE
          // landing mid-stage can recreate a table whose latest happens to
          // reach the same number. The staged generation is identified by
          // its latest commit's (version, ts, op) triple; a recreated
          // table cannot reproduce the original's commit timestamp.
          locally {
            val staged = base.manifest(base.latest)
            val now = m.history.find(_.version == base.latest)
            require(now.exists(c => c.tsMillis == staged.tsMillis && c.op == staged.op),
              s"$tableName: the table generation changed while the REPLACE staged " +
                "(a concurrent DROP + CREATE raced this commit); field ids were " +
                "preserved from the dropped generation — rerun the REPLACE")
          }
          val newSchemaId = (m.schemas.keys ++ Seq(m.currentSchemaId)).max + 1
          val next = Commit(m.latest + 1, now, "replace-table", files, stats,
            schemaId = newSchemaId)
          // expectedLatest = the snapshot staging was planned against:
          // ids were preserved from ITS schema, so any interleaved commit
          // (write or alter) must fail this publish, not be clobbered
          TableMeta.write(dir, m.copy(schema = stampedSchema, props = userProps,
            clusterBy = clusterBy,
            schemas = m.schemas + (m.currentSchemaId -> m.schema),
            history = m.history :+ next),
            expectedLatest = Some(base.latest))
      }
    }

  override def abortStagedChanges(): Unit =
    try {
      if (Files.exists(commitDir)) {
        val s = Files.walk(commitDir)
        try s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    } catch { case NonFatal(_) => () }
}

private[catalog] object StagedGraftTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}
