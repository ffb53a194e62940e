package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A minimal snapshot-versioned, parquet-backed DataSource-v2 catalog:
  * the SQL-syntax surface for the maintenance verbs that VERDICT r11
  * scoped as "only via DSv2 catalogs" — `MERGE INTO`, `UPDATE`,
  * `DELETE FROM`, `INSERT INTO/OVERWRITE`, and `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel, all as plain `spark.sql(...)` text
  * against `graft_cat.<ns>.<table>` identifiers.
  *
  * == Storage model ==
  *
  * One directory per table under the catalog `root`:
  *
  * {{{
  * <root>/<ns...>/<table>/
  *   meta.json            -- schema + full commit history (version -> file list)
  *   data/c-<uuid>/part-* -- immutable parquet files, one subdir per commit
  * }}}
  *
  * A table VERSION is a manifest: an explicit list of data-file paths.
  * Commits never mutate data files — append adds files to the inherited
  * list, truncate/replace starts a fresh list — so every historical
  * version stays readable forever (time travel) and a reader holding
  * version N is never disturbed by a concurrent writer committing N+1
  * (snapshot isolation at the manifest level). `meta.json` is the single
  * mutable object; it is rewritten atomically (temp file + ATOMIC_MOVE)
  * under an optimistic check — a commit that raced another writer fails
  * with a conflict instead of silently dropping the other's files, the
  * same contract `Curation.ensureSnapshots` pins for the DataFrame-side
  * snapshot store. At 100 TB the inline manifest becomes per-commit
  * manifest FILES with a tiny pointer in meta.json (Iceberg's layout);
  * the commit protocol — immutable data + one atomic pointer swap — is
  * unchanged, which is why the verbs scale: MERGE cost is the rewrite
  * query itself, never a table lock.
  *
  * == Execution model: delegate to the built-in parquet v2 source ==
  *
  * Scans and writes are delegated to Spark's own [[ParquetTable]] over
  * the manifest's file list, so reads keep the vectorized reader, filter
  * pushdown, and column pruning (`.explain` shows the usual PushedFilters
  * / ReadSchema on catalog tables), and writes keep the hadoop commit
  * protocol — this catalog adds exactly ONE thing, the versioned-manifest
  * commit, instead of re-implementing a parquet IO stack.
  *
  * == Row-level operations (MERGE / UPDATE / DELETE) ==
  *
  * [[GraftTable]] implements [[SupportsRowLevelOperations]] with
  * group-based (copy-on-write) semantics at FILE granularity: Catalyst's
  * RewriteMergeIntoTable / RewriteUpdateTable / RewriteDeleteFromTable
  * turn the verb into a ReplaceData plan — a join/filter of the snapshot
  * against the source that emits every surviving row of the scanned
  * groups — and the group is the FILE SET the row-level scan kept after
  * evaluating the verb's pushed condition against the manifest's footer
  * stats ([[org.apache.spark.sql.graft.CowGroupScanBuilder]]): files the
  * stats PROVE hold no matching row are never scanned, never rewritten,
  * and are INHERITED verbatim into the new manifest at commit. On a
  * clustered table (`PARTITIONED BY`) a targeted UPDATE/DELETE therefore
  * rewrites a strict subset of the table — the takedown DELETE at 100 TB
  * costs the touched files, not a full-corpus rewrite (VERDICT r12 #1).
  * Conditions the stats can't bound (MERGE's source-dependent ON clause,
  * unsupported expressions) conservatively keep every file — whole-table
  * rewrite, always correct, never fast-but-wrong. Correctness does not
  * depend on group size — only rewrite volume does.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog with FunctionCatalog
    with ViewCatalog with StagingTableCatalog {
  private var catalogName: String = _
  private var root: Path = _

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS (r15) ----
  //
  // Without this interface Spark falls back to NON-atomic CTAS/RTAS —
  // REPLACE TABLE AS SELECT becomes drop + create + write, and a failed
  // write leaves NO TABLE AT ALL. Here the staged write lands in a
  // commit subdir and publication is ONE manifest swap: REPLACE TABLE is
  // just another versioned commit (op `replace-table`, its own schema
  // era), so a failure aborts invisibly and TIME TRAVEL works across the
  // replace — the nightly full-refresh shape (recompute the corpus,
  // atomically swap) with every previous version still readable.
  // Spark 4.1 routes all stage* overloads through the TableInfo
  // variants, so these three cover the surface.

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, StagedGraftTable.Create)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!Files.exists(tableDir(ident).resolve(TableMeta.MetaFile)))
      throw new NoSuchTableException(ident)
    staged(ident, info, StagedGraftTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, StagedGraftTable.CreateOrReplace)

  private def staged(ident: Identifier, info: TableInfo,
                     mode: StagedGraftTable.Mode): StagedTable = {
    val schema = info.schema()
    val clusterBy = clusterByOf(info.partitions())
    ClusterSpec.validate(clusterBy, schema)
    val userProps = validatedUserProps(schema, info.properties())
    val dir = tableDir(ident)
    require(!Files.exists(dir.resolve(GraftViewStore.ViewFile)),
      s"a VIEW named ${fullName(ident)} already exists (tables and views share a namespace)")
    new StagedGraftTable(fullName(ident), dir, schema, clusterBy, userProps, mode)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root=<dir>")
    root = Paths.get(r)
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): Path =
    ident.namespace().foldLeft(root)(_.resolve(_)).resolve(ident.name())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) Array.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve(TableMeta.MetaFile)))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  /** Plain `cat.ns.t` loads the main chain. `cat.ns.t.branch_<name>`
    * (Iceberg's branch-suffix idiom) loads a WAP branch view of `ns.t`:
    * reads and writes resolve against the branch's commit chain until
    * `CALL system.publish_branch` fast-forwards main. `cat.ns.t.changes`
    * loads the CHANGE-FEED streaming view ([[GraftCdfTable]]): row-level
    * deltas per commit, COW rewrites included. */
  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve(TableMeta.MetaFile)))
      new GraftTable(fullName(ident), dir, pinnedVersion = None)
    else if (ident.name().startsWith("branch_") && ident.namespace().nonEmpty) {
      val base = Identifier.of(ident.namespace().dropRight(1), ident.namespace().last)
      val baseDir = tableDir(base)
      if (!Files.exists(baseDir.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(ident)
      val b = ident.name().stripPrefix("branch_")
      if (!TableMeta.read(baseDir).branches.contains(b)) throw new NoSuchTableException(ident)
      new GraftTable(fullName(ident), baseDir, pinnedVersion = None, branch = Some(b))
    } else if (ident.name() == "changes" && ident.namespace().nonEmpty) {
      val base = Identifier.of(ident.namespace().dropRight(1), ident.namespace().last)
      val baseDir = tableDir(base)
      if (!Files.exists(baseDir.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(ident)
      new GraftCdfTable(fullName(ident),
        new GraftTable(fullName(base), baseDir, pinnedVersion = None))
    } else throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>` time travel: an immutable view of manifest v.
    * A non-numeric version names a WAP BRANCH (Iceberg's branch-read
    * idiom, `VERSION AS OF 'audit'`) or a TAG (`CALL system.tag` — an
    * immutable named version, resolution order branch-then-tag with
    * name collisions refused at tag time). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(ident)
    version.toIntOption match {
      case Some(v) =>
        new GraftTable(s"${fullName(ident)}@v$v", dir, pinnedVersion = Some(v))
      case None =>
        val m = TableMeta.read(dir)
        if (m.branches.contains(version))
          new GraftTable(s"${fullName(ident)}@$version", dir, pinnedVersion = None,
            branch = Some(version))
        else m.tags.get(version) match {
          case Some(v) =>
            new GraftTable(s"${fullName(ident)}@$version(v$v)", dir, pinnedVersion = Some(v))
          case None => throw new IllegalArgumentException(
            s"'$version' is neither a version number, a branch, nor a tag of " +
              s"${fullName(ident)} (branches: ${m.branches.keys.toSeq.sorted.mkString(", ")}; " +
              s"tags: ${m.tags.keys.toSeq.sorted.mkString(", ")})")
        }
    }
  }

  /** `TIMESTAMP AS OF <ts>` time travel: the latest version whose commit
    * time is at or before `timestamp` (microseconds since epoch, per the
    * DSv2 contract). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(ident)
    val meta = TableMeta.read(dir)
    val tsMillis = timestamp / 1000
    val v = meta.history.filter(_.tsMillis <= tsMillis)
      .map(_.version).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no commit of ${fullName(ident)} at or before timestamp $timestamp"))
    new GraftTable(s"${fullName(ident)}@v$v", dir, pinnedVersion = Some(v))
  }

  /** `PARTITIONED BY (c1, c2)` with identity transforms declares a
    * CLUSTERED LAYOUT, not hive directories: every write is forced
    * through a range distribution + in-file sort on those columns (the
    * Write declares `RequiresDistributionAndOrdering`, so Catalyst plans
    * the shuffle), which makes the footer stats in the manifest tight and
    * non-overlapping — the existing data skipping then prunes scans on
    * the cluster columns at partition-pruning strength, without the
    * small-files/skew pathologies of value-per-directory layouts at
    * 100 TB (Iceberg sort orders / Delta liquid clustering, not hive).
    *
    * TIME transforms — `days(ts)` / `hours(ts)` — are accepted too
    * (Iceberg's hidden partitioning, the most common clustering key for
    * an events table): writes cluster on the DERIVED day/hour value
    * (served by this catalog's [[FunctionCatalog]] side, which is how
    * Catalyst resolves a v2 transform in a write distribution), so each
    * file covers a contiguous time range and plain `WHERE ts >= … AND ts
    * < …` predicates prune through the ordinary ts footer stats — no
    * derived column in the schema, no directory explosion. `bucket`
    * stays rejected: hash-bucketed values have no contiguous range, so
    * footer-stats skipping (this catalog's pruning mechanism) can never
    * prune them — a bucket layout here would parse but silently never
    * skip, the fast-but-wrong shape (ClusteredTableSpec pins the
    * refusal). */
  /** PARTITIONED BY transforms → the manifest's clusterBy strings (shared
    * by CREATE and the staged CTAS/RTAS paths). */
  private[catalog] def clusterByOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
      case t if ClusterSpec.TimeUnits.contains(t.name) && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        s"${t.name}(${t.references()(0).fieldNames()(0)})"
      case t if t.name == GraftBucket.FnName && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        // bucket(n, col): a JOIN contract, not a pruning one — footer
        // stats still can't bound a hash, so bucket stays out of
        // SkipEval; what it buys is storage-partitioned joins (Spj.scala)
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Integer] => l.value().asInstanceOf[Integer].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs an integer bucket count; got $t"))
        s"${GraftBucket.FnName}($n,${t.references()(0).fieldNames()(0)})"
      case other => throw new UnsupportedOperationException(
        s"graft catalog supports identity, days(col), hours(col), months(col), and " +
          s"bucket(n, col) PARTITIONED BY transforms (a clustered layout contract, " +
          s"not hive directories); got $other")
    }

  /** TBLPROPERTIES validation shared by CREATE and the staged paths:
    * strip Spark's reserved entries, validate the keys this catalog
    * interprets so a typo fails the DDL, not the first UPDATE. */
  private[catalog] def validatedUserProps(schema: StructType,
                                          properties: java.util.Map[String, String])
      : Map[String, String] = {
    val userProps = properties.asScala.toMap --
      Seq("provider", "owner", "location", "external", "format")
    userProps.get(GraftTable.RowLevelModeProp).foreach { v =>
      require(GraftTable.RowLevelModes.contains(v),
        s"${GraftTable.RowLevelModeProp} must be one of " +
          s"${GraftTable.RowLevelModes.mkString("'", "', '", "'")}; got '$v'")
    }
    userProps.get(GraftTable.BloomColumnsProp).foreach { v =>
      v.split(',').map(_.trim).filter(_.nonEmpty).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"${GraftTable.BloomColumnsProp} column '$c' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
    }
    userProps
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val clusterBy = clusterByOf(partitions)
    ClusterSpec.validate(clusterBy, schema)
    // bucket + merge-on-read compose since r15: MOR's delta-insert writer
    // rides the same BucketFanoutFactory as every other write, so delta
    // files stay bucket-pure and the continuous-upsert corpus keeps its
    // storage-partitioned join (VERDICT r14 #3)
    val userProps = validatedUserProps(schema, properties)
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve(TableMeta.MetaFile)))
      throw new TableAlreadyExistsException(ident)
    require(!Files.exists(dir.resolve(GraftViewStore.ViewFile)),
      s"a VIEW named ${fullName(ident)} already exists (tables and views share a namespace)")
    Files.createDirectories(dir.resolve("data"))
    // columns get stable parquet field ids from birth (see [[FieldIds]])
    TableMeta.write(dir, TableMeta(FieldIds.stamp(schema),
      Seq(Commit(0, System.currentTimeMillis(), "create", Nil)),
      clusterBy = clusterBy, props = userProps), expectedLatest = None)
    new GraftTable(fullName(ident), dir, pinnedVersion = None)
  }

  /** Schema evolution as METADATA COMMITS (no data file ever moves):
    *
    *  - `ADD COLUMN` appends a nullable top-level field (a fresh field
    *    id; pre-evolution files null-fill it);
    *  - `RENAME COLUMN` renames in the current schema only — the field
    *    ID stays, so every old file's column (written under the old
    *    parquet name) still resolves (see [[FieldIds]]); cluster keys
    *    and bloom props follow the rename;
    *  - `DROP COLUMN` removes the field from the CURRENT schema; the
    *    takedown-by-column case costs one metadata commit, data files
    *    keep the bytes, and pre-drop versions still SERVE the column
    *    under time travel (each commit records its schema version —
    *    [[TableMeta.schemas]]). The id is never reused.
    *
    * Type changes stay refused — they would reinterpret immutable
    * bytes, which is a rewrite, not an ALTER. Schema changes also
    * refuse while WAP branches are open (a publish would fast-forward
    * the branch's pre-change schema id over the new one). Every schema
    * change lands as an `alter` commit with `dataChange = false`
    * (streams skip it), so old manifests pair with their old schemas
    * forever. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(ident)
    GraftTable.withCommitLock(dir) {
      val m = TableMeta.read(dir)
      var schema = m.schema
      var props = m.props
      var clusterBy = m.clusterBy
      var schemaChanged = false
      def requireSchemaChangeAllowed(what: String): Unit =
        require(m.branches.isEmpty,
          s"graft catalog: $what refused while WAP branches exist " +
            s"(${m.branches.keys.toSeq.sorted.mkString(", ")}): publish would " +
            "fast-forward the branch's pre-change schema; publish or drop first")
      // the live equality-delete key is resolved BY NAME at read time
      // (EqRef.keyCol) — renaming or dropping it while tombstones are
      // live would brick every scan AND the compact repair itself
      def requireNotLiveEqKey(col: String, what: String): Unit =
        m.manifest(m.latest).eqs.foreach(e =>
          require(!e.keyCol.equalsIgnoreCase(col),
            s"graft catalog: $what of '$col' refused — it is the key column of live " +
              "equality-delete tombstones; CALL system.compact to materialize them first"))
      changes.foreach {
        // ---- NESTED struct-field evolution (r16, VERDICT r15 #4):
        // nested fields carry their own ids (FieldIds.stamp recurses),
        // so nested ADD/RENAME/DROP are ordinary metadata-era commits —
        // old files null-fill an added nested field, resolve a renamed
        // one by id, and keep serving a dropped one under time travel.
        case add: TableChange.AddColumn if add.fieldNames().length == 2 =>
          val parent = add.fieldNames()(0)
          val child = add.fieldNames()(1)
          require(add.isNullable,
            "graft catalog: nested added fields must be nullable (existing files null-fill)")
          require(add.defaultValue() == null,
            "graft catalog: DEFAULT on a nested field is not supported")
          require(FieldIds.allStamped(schema),
            "graft catalog: nested ADD COLUMN needs parquet field ids; recreate the table")
          requireSchemaChangeAllowed("ADD COLUMN (nested)")
          val freshId = FieldIds.nextId(m, schema)
          schema = FieldIds.mapStruct(schema, parent, "ADD COLUMN") { st =>
            require(!st.fieldNames.exists(_.equalsIgnoreCase(child)),
              s"field $parent.$child already exists")
            StructType(st.fields :+ FieldIds.withId(
              org.apache.spark.sql.types.StructField(child, add.dataType(), nullable = true), freshId))
          }
          schemaChanged = true
        case r: TableChange.RenameColumn if r.fieldNames().length == 2 =>
          val parent = r.fieldNames()(0)
          val from = r.fieldNames()(1)
          require(FieldIds.allStamped(schema),
            "graft catalog: nested RENAME COLUMN needs parquet field ids; recreate the table")
          requireSchemaChangeAllowed("RENAME COLUMN (nested)")
          schema = FieldIds.mapStruct(schema, parent, "RENAME COLUMN") { st =>
            require(st.fieldNames.exists(_.equalsIgnoreCase(from)),
              s"no field $parent.$from to rename (${st.fieldNames.mkString(", ")})")
            // the NESTED field itself must carry an id: a pre-nested-id
            // table (top-level ids only) would leave old files resolving
            // the renamed field by a name they don't have — silent
            // null-fill, the exact loss the id substrate exists to stop
            require(st.fields.filter(_.name.equalsIgnoreCase(from))
              .forall(f => FieldIds.idOf(f).isDefined),
              s"graft catalog: $parent.$from has no parquet field id (a pre-nested-id " +
                "table); old files cannot resolve it under a new name — recreate the table")
            require(!st.fieldNames.exists(_.equalsIgnoreCase(r.newName())),
              s"field $parent.${r.newName()} already exists")
            StructType(st.fields.map(f =>
              if (f.name.equalsIgnoreCase(from)) f.copy(name = r.newName()) else f))
          }
          schemaChanged = true
        case d: TableChange.DeleteColumn if d.fieldNames().length == 2 =>
          val parent = d.fieldNames()(0)
          val child = d.fieldNames()(1)
          val parentOk = schema.fields.exists(f => f.name.equalsIgnoreCase(parent) &&
            f.dataType.isInstanceOf[StructType])
          val exists = parentOk && schema.fields.find(_.name.equalsIgnoreCase(parent))
            .get.dataType.asInstanceOf[StructType].fieldNames.exists(_.equalsIgnoreCase(child))
          if (!exists) {
            if (!d.ifExists()) throw new IllegalArgumentException(
              s"no field $parent.$child to drop")
          } else {
            require(FieldIds.allStamped(schema),
              "graft catalog: nested DROP COLUMN needs parquet field ids; recreate the table")
            requireSchemaChangeAllowed("DROP COLUMN (nested)")
            schema = FieldIds.mapStruct(schema, parent, "DROP COLUMN") { st =>
              // same pre-nested-id guard as nested RENAME: dropping an
              // id-less nested field would retire a name old files can
              // only serve BY that name (time travel aside, a later ADD
              // of the same name would resurrect the old bytes)
              require(st.fields.filter(_.name.equalsIgnoreCase(child))
                .forall(f => FieldIds.idOf(f).isDefined),
                s"graft catalog: $parent.$child has no parquet field id (a " +
                  "pre-nested-id table); recreate the table to evolve nested fields")
              require(st.fields.length > 1,
                s"cannot drop the last field of struct '$parent'; drop the column instead")
              StructType(st.fields.filterNot(_.name.equalsIgnoreCase(child)))
            }
            schemaChanged = true
          }
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            "graft catalog: only top-level ADD COLUMN is supported")
          require(add.isNullable || add.defaultValue() != null,
            "graft catalog: added columns must be nullable or carry a DEFAULT " +
              "(existing files have no values)")
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(add.fieldNames()(0))),
            s"column ${add.fieldNames()(0)} already exists")
          // Reusing a RETIRED era's name is legal since r16 (Iceberg
          // semantics): manifest file stats are keyed by FIELD ID
          // (FieldIds.statKey), so old files' stats for the retired
          // column can never answer for the new one — the new id simply
          // finds no stats in old files (conservative; the r14 ADVICE
          // IsNull-prune poison is impossible by construction).
          requireSchemaChangeAllowed("ADD COLUMN")
          // `ADD COLUMN … DEFAULT` as METADATA (VERDICT r15 #5, Iceberg
          // v3 semantics / DSv2 column defaults): no backfill — the
          // folded constant lands in the field's EXISTS_DEFAULT metadata
          // and Spark's parquet reader serves it for files that predate
          // the column, while CURRENT_DEFAULT feeds INSERTs that omit it.
          // EXISTS_DEFAULT freezes the FOLDED value at ADD time (a later
          // SET DEFAULT changes only future inserts — SQL standard).
          val defMeta: Option[org.apache.spark.sql.types.Metadata] =
            Option(add.defaultValue()).map { dv =>
              val folded = Option(dv.getValue).getOrElse(throw new IllegalArgumentException(
                s"graft catalog: ADD COLUMN ${add.fieldNames()(0)} DEFAULT must fold to " +
                  "a literal (non-deterministic/non-foldable defaults are refused)"))
              val lit = org.apache.spark.sql.catalyst.expressions.Literal(
                folded.value, folded.dataType)
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                  .CURRENT_DEFAULT_COLUMN_METADATA_KEY, dv.getSql)
                .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                  .EXISTS_DEFAULT_COLUMN_METADATA_KEY, lit.sql)
                .build()
            }
          schema = FieldIds.addStamped(schema, m, add.fieldNames()(0), add.dataType(),
            nullable = add.isNullable, extraMeta = defMeta)
          schemaChanged = true
        case upd: TableChange.UpdateColumnDefaultValue =>
          // SET/DROP DEFAULT: future inserts only — EXISTS_DEFAULT (what
          // pre-column files serve) stays frozen at its ADD-time value
          require(upd.fieldNames().length == 1,
            "graft catalog: only top-level ALTER COLUMN SET DEFAULT is supported")
          val colName = upd.fieldNames()(0)
          val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
            throw new IllegalArgumentException(
              s"no column '$colName' (${schema.fieldNames.mkString(", ")})"))
          val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          Option(upd.newCurrentDefault()).map(_.getSql).filter(_.nonEmpty) match {
            case Some(sql) => mb.putString(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            case None => mb.remove(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
          }
          requireSchemaChangeAllowed("ALTER COLUMN DEFAULT")
          schema = StructType(schema.fields.map(x =>
            if (x.name.equalsIgnoreCase(colName)) x.copy(metadata = mb.build()) else x))
          schemaChanged = true
        case r: TableChange.RenameColumn =>
          require(r.fieldNames().length == 1,
            "graft catalog: only top-level RENAME COLUMN is supported")
          val from = r.fieldNames()(0)
          requireNotLiveEqKey(from, "RENAME COLUMN")
          require(schema.fieldNames.exists(_.equalsIgnoreCase(from)),
            s"no column '$from' to rename (${schema.fieldNames.mkString(", ")})")
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(r.newName())),
            s"column '${r.newName()}' already exists")
          require(FieldIds.allStamped(schema),
            "graft catalog: RENAME COLUMN needs parquet field ids on every column " +
              "(a pre-field-id table would lose old files' data under the new name); " +
              "recreate the table to adopt ids")
          // renaming onto a retired era's name is legal since r16: stats
          // are field-id-keyed, so the renamed column keeps ITS OWN
          // stats under its id and the retired column's stats can never
          // answer for it (see the ADD COLUMN note above)
          requireSchemaChangeAllowed("RENAME COLUMN")
          schema = StructType(schema.fields.map(f =>
            if (f.name.equalsIgnoreCase(from)) f.copy(name = r.newName()) else f))
          // declared layout and bloom columns follow the rename
          clusterBy = clusterBy.map { c =>
            val (col, unit) = ClusterSpec.parse(c)
            if (!col.equalsIgnoreCase(from)) c
            else unit match {
              case None => r.newName()
              case Some("bucket") =>
                val bl = ClusterSpec.parseBucket(c).get
                s"bucket(${bl.numBuckets},${r.newName()})"
              case Some(u) => s"$u(${r.newName()})"
            }
          }
          props = props.get(GraftTable.BloomColumnsProp).fold(props) { v =>
            props + (GraftTable.BloomColumnsProp -> v.split(',').map(_.trim)
              .map(c => if (c.equalsIgnoreCase(from)) r.newName() else c).mkString(","))
          }
          schemaChanged = true
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames().length == 1,
            "graft catalog: only top-level DROP COLUMN is supported")
          val col = d.fieldNames()(0)
          requireNotLiveEqKey(col, "DROP COLUMN")
          if (!schema.fieldNames.exists(_.equalsIgnoreCase(col))) {
            if (!d.ifExists()) throw new IllegalArgumentException(
              s"no column '$col' to drop (${schema.fieldNames.mkString(", ")})")
          } else {
            require(FieldIds.allStamped(schema),
              "graft catalog: DROP COLUMN needs parquet field ids on every column; " +
                "recreate the table to adopt ids")
            require(schema.fields.length > 1, "cannot drop a table's last column")
            require(!clusterBy.exists(c => ClusterSpec.parse(c)._1.equalsIgnoreCase(col)),
              s"cannot drop '$col': it is a declared cluster/bucket key " +
                s"(${clusterBy.mkString(", ")}); CALL system.set_clustering first")
            require(!props.get(GraftTable.BloomColumnsProp).exists(
              _.split(',').map(_.trim).exists(_.equalsIgnoreCase(col))),
              s"cannot drop '$col': it is a declared bloom column; unset " +
                s"${GraftTable.BloomColumnsProp} first")
            requireSchemaChangeAllowed("DROP COLUMN")
            schema = StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(col)))
            schemaChanged = true
          }
        case u: TableChange.UpdateColumnType =>
          // TYPE WIDENING as metadata schema evolution (VERDICT r14 #6):
          // int->bigint, float->double, decimal precision growth are
          // lossless on read (old files' values up-cast in the vectorized
          // reader), cost one versioned-schema commit, and time travel
          // keeps serving each era under its own type. Narrowing and
          // reinterpretation stay refused.
          require(u.fieldNames().length == 1,
            "graft catalog: only top-level ALTER COLUMN TYPE is supported")
          val col = u.fieldNames()(0)
          val f = schema.fields.find(_.name.equalsIgnoreCase(col)).getOrElse(
            throw new IllegalArgumentException(
              s"no column '$col' to widen (${schema.fieldNames.mkString(", ")})"))
          require(FieldIds.widens(f.dataType, u.newDataType()),
            s"graft catalog: ALTER COLUMN $col TYPE ${u.newDataType().simpleString} is not " +
              s"a safe widening of ${f.dataType.simpleString}; only int->bigint, " +
              "float->double, and decimal precision growth are metadata-only — anything " +
              "else would reinterpret immutable files (stays refused)")
          // a bloom probe is hashed against the FILE's physical type: a
          // long probe against an int32-era bloom would answer "absent"
          // for present values and skip files wrongly — refuse
          require(!props.get(GraftTable.BloomColumnsProp).exists(
            _.split(',').map(_.trim).exists(_.equalsIgnoreCase(col))),
            s"cannot widen '$col': it is a declared bloom column (bloom probes hash " +
              s"the files' physical type); unset ${GraftTable.BloomColumnsProp} first")
          requireSchemaChangeAllowed("ALTER COLUMN TYPE")
          schema = StructType(schema.fields.map(x =>
            if (x.name.equalsIgnoreCase(col)) x.copy(dataType = u.newDataType()) else x))
          schemaChanged = true
        case set: TableChange.SetProperty =>
          if (set.property() == GraftTable.RowLevelModeProp) {
            require(GraftTable.RowLevelModes.contains(set.value()),
              s"${GraftTable.RowLevelModeProp} must be one of " +
                s"${GraftTable.RowLevelModes.mkString("'", "', '", "'")}; got '${set.value()}'")
            // bucket + MOR compose since r15 (delta inserts fan out
            // bucket-pure) — no layout restriction on the mode switch
          }
          if (set.property() == GraftTable.BloomColumnsProp)
            set.value().split(',').map(_.trim).filter(_.nonEmpty).foreach(c =>
              require(schema.fieldNames.contains(c),
                s"${GraftTable.BloomColumnsProp} column '$c' is not in the schema " +
                  s"(${schema.fieldNames.mkString(", ")})"))
          props = props + (set.property() -> set.value())
        case unset: TableChange.RemoveProperty =>
          props = props - unset.property()
        case other =>
          throw new UnsupportedOperationException(
            s"graft catalog: unsupported ALTER TABLE change $other " +
              "(ADD/RENAME/DROP of a top-level column, widening ALTER COLUMN TYPE, " +
              "SET/UNSET TBLPROPERTIES; non-widening type changes would reinterpret " +
              "immutable files and stay refused)")
      }
      if (!schemaChanged)
        TableMeta.write(dir, m.copy(props = props, clusterBy = clusterBy),
          expectedLatest = Some(m.latest))
      else {
        val prev = m.manifest(m.latest)
        val newSchemaId = (m.schemas.keys ++ Seq(m.currentSchemaId)).max + 1
        val next = Commit(m.latest + 1, System.currentTimeMillis(), "alter",
          prev.files, prev.stats, dataChange = false, prev.dvs, schemaId = newSchemaId,
          eqs = prev.eqs, fileSeqs = prev.fileSeqs)
        TableMeta.write(dir, m.copy(schema = schema, props = props,
          clusterBy = clusterBy,
          schemas = m.schemas + (m.currentSchemaId -> m.schema),
          history = m.history :+ next),
          expectedLatest = Some(m.latest))
      }
    }
    new GraftTable(fullName(ident), dir, pinnedVersion = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.exists(dir)) false
    else {
      graft.Artifacts.deleteTree(dir)
      true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    if (!Files.exists(src.resolve(TableMeta.MetaFile))) throw new NoSuchTableException(from)
    val dst = tableDir(to)
    if (Files.exists(dst)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace() :+ ident.name())).mkString(".")

  // ---- maintenance procedures (CALL <cat>.system.<proc>(...)) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedure.table.map(p => Identifier.of(Array("system"), p._1)).toArray
    else Array.empty

  /** Declares DSv2 column-default support: `CREATE TABLE (… DEFAULT …)`
    * and `ALTER TABLE ADD COLUMN … DEFAULT` then reach this catalog with
    * the default attached, stored as field metadata (no backfill). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.Set.of(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_COLUMN_DEFAULT_VALUE)

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    if (!ident.namespace().sameElements(Array("system")))
      throw new UnsupportedOperationException(s"no procedure ${fullName(ident)}")
    else GraftProcedure.table.collectFirst {
      case (n, make) if n == ident.name() => make(this)
    }.getOrElse(throw new UnsupportedOperationException(
      s"no procedure system.${ident.name()} " +
        s"(available: ${GraftProcedure.table.map(_._1).mkString(", ")})"))

  private[catalog] def tableDirOf(dotted: String): Path = {
    val parts = dotted.split('.')
    tableDir(Identifier.of(parts.dropRight(1), parts.last))
  }

  /** [[tableDirOf]] for a table that must already exist. */
  private[catalog] def existingTableDir(dotted: String): Path = {
    val dir = tableDirOf(dotted)
    require(Files.exists(dir.resolve(TableMeta.MetaFile)),
      s"no such table '$dotted' in catalog ${name()}")
    dir
  }

  // ---- FunctionCatalog: the time partition-transform functions ----
  //
  // Catalyst resolves a non-identity transform in a write's required
  // distribution/ordering by loading the function NAMED like the
  // transform from the table's catalog (V2ExpressionUtils.
  // loadV2FunctionOpt → loadFunction(Identifier.of(empty, name))), so
  // serving days/hours here is what makes `PARTITIONED BY (days(ts))`
  // plannable end-to-end.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      (ClusterSpec.TimeUnits + GraftBucket.FnName).toArray.sorted
        .map(Identifier.of(Array.empty[String], _))
    else Array.empty

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.namespace().nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    else if (ident.name() == GraftBucket.FnName) new GraftBucketFunction
    else if (ClusterSpec.TimeUnits.contains(ident.name()))
      new TimeTransformFunction(ident.name())
    else // this catalog serves only the partition transforms
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- ViewCatalog: persistent SQL views (see [[GraftViewStore]]) ----
  //
  // Spark 4.1 does not call these natively (nothing in the analyzer is
  // wired to ViewCatalog yet); the graft SQL surface reaches them via
  // GraftViewParser / GraftResolveViews, and a future Spark that wires
  // v2 views picks them up unchanged.

  import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(dir)) Array.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve(GraftViewStore.ViewFile)))
        .map(p => Identifier.of(namespace.toArray, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def loadView(ident: Identifier): View =
    GraftViewStore.read(tableDir(ident)) match {
      case Some(d) => new GraftView(fullName(ident), d)
      case None => throw new NoSuchViewException(ident)
    }

  override def viewExists(ident: Identifier): Boolean =
    Files.exists(tableDir(ident).resolve(GraftViewStore.ViewFile))

  private def viewDefOf(ident: Identifier, info: ViewInfo): GraftViewStore.ViewDef = {
    require(!Files.exists(tableDir(ident).resolve(TableMeta.MetaFile)),
      s"a TABLE named ${fullName(ident)} already exists (tables and views share a namespace)")
    require(info.columnAliases() == null || info.columnAliases().isEmpty,
      "graft views do not support column aliases; alias inside the SELECT instead")
    GraftViewStore.ViewDef(info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema().json,
      Option(info.properties().get(ViewCatalog.PROP_COMMENT)),
      info.properties().asScala.toMap -- ViewCatalog.RESERVED_PROPERTIES.asScala)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val d = viewDefOf(ident, info)
    GraftViewStore.write(tableDir(ident), d)
    new GraftView(fullName(ident), d)
  }

  /** CREATE OR REPLACE / ALTER VIEW AS on an EXISTING view: swap the
    * stored definition in one atomic write ([[GraftViewStore.write]]'s
    * ATOMIC_MOVE + REPLACE_EXISTING) — drop-then-create would open a
    * window where a crash loses the view and a concurrent reader sees
    * it missing (ADVICE r13). */
  private[graft] def replaceView(info: ViewInfo): View = {
    val ident = info.ident()
    val d = viewDefOf(ident, info)
    GraftViewStore.write(tableDir(ident), d)
    new GraftView(fullName(ident), d)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val dir = tableDir(ident)
    val d = GraftViewStore.read(dir).getOrElse(throw new NoSuchViewException(ident))
    val updated = changes.foldLeft(d) { (acc, ch) =>
      ch match {
        case s: ViewChange.SetProperty =>
          acc.copy(props = acc.props + (s.property() -> s.value()))
        case r: ViewChange.RemoveProperty => acc.copy(props = acc.props - r.property())
        case other => throw new UnsupportedOperationException(
          s"unsupported view change $other")
      }
    }
    GraftViewStore.write(dir, updated)
    new GraftView(fullName(ident), updated)
  }

  override def dropView(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    val existed = Files.deleteIfExists(dir.resolve(GraftViewStore.ViewFile))
    if (existed) {
      val s = Files.list(dir)
      val empty = try !s.iterator().hasNext finally s.close()
      if (empty) Files.deleteIfExists(dir)
    }
    existed
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent)) throw new ViewAlreadyExistsException(newIdent)
    require(!Files.exists(tableDir(newIdent).resolve(TableMeta.MetaFile)),
      s"a TABLE named ${fullName(newIdent)} already exists")
    val d = GraftViewStore.read(tableDir(oldIdent)).get
    GraftViewStore.write(tableDir(newIdent), d)
    dropView(oldIdent)
  }
}

/** PARQUET FIELD IDS — the identity layer under column RENAME/DROP
  * (VERDICT r13 #2; Iceberg's mechanism): every column of a catalog
  * table carries a stable numeric id (`parquet.field.id` field
  * metadata, assigned at CREATE and on ADD COLUMN, never reused), every
  * data file is written with the ids embedded in its parquet schema
  * (Spark's own `spark.sql.parquet.fieldId.write.enabled`, on by
  * default once the metadata is present), and reads resolve columns BY
  * ID (`spark.sql.parquet.fieldId.read.enabled`, set in the graft
  * session builder). A rename is then a metadata-only commit — old
  * files keep their old parquet names but the id still finds the
  * column — and a drop just removes the field from the CURRENT schema
  * while historical schema versions ([[TableMeta.schemas]]) keep
  * serving it under time travel. */
private[graft] object FieldIds {
  val MetaKey = "parquet.field.id"
  import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

  private[catalog] def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(MetaKey, id).build())

  /** The manifest [[FileStats]] map key for a column (r16, VERDICT r15
    * #3): the FIELD ID (`"#<id>"`) when the column has one, the name for
    * legacy id-less tables. Keying by id makes stats follow a column
    * through RENAME (old files keep pruning under the new name) and
    * makes a REUSED name unable to alias a retired column's stats —
    * DROP c + ADD c is legal because the new c looks up a fresh id and
    * simply finds no stats (conservative, never the r14 IsNull-prune
    * poison). A stamped table writes only id keys and a legacy table
    * only name keys, so the two key spaces never mix within one table. */
  def statKey(f: StructField): String =
    idOf(f).map(id => s"#$id").getOrElse(f.name)

  /** Rewrite the STRUCT type of top-level column `parent` via `fn` (the
    * nested-ALTER building block); loud when the column is missing or
    * not a struct. */
  def mapStruct(schema: StructType, parent: String, what: String)
               (fn: StructType => StructType): StructType = {
    val pf = schema.fields.find(_.name.equalsIgnoreCase(parent)).getOrElse(
      throw new IllegalArgumentException(
        s"$what: no column '$parent' (${schema.fieldNames.mkString(", ")})"))
    val st = pf.dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"$what: '$parent' is ${other.simpleString}, not a struct")
    }
    StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(parent)) f.copy(dataType = fn(st)) else f))
  }

  def idOf(f: StructField): Option[Long] =
    if (f.metadata.contains(MetaKey)) Some(f.metadata.getLong(MetaKey)) else None

  def allStamped(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(f => f.metadata.contains(MetaKey))

  /** Fresh ids for a CREATE-time schema, assigned DEPTH-FIRST so nested
    * struct fields are first-class catalog citizens too (r16, VERDICT
    * r15 #4): a nested field carries its own stable id, so nested
    * RENAME resolves old files by id and nested ADD null-fills them —
    * the same contract as top level. (Structs inside arrays/maps are
    * left unstamped: their evolution stays refused.) */
  def stamp(schema: StructType): StructType = {
    var next = 0L
    def one(f: StructField): StructField = {
      next += 1
      val stamped = withId(f, next)
      stamped.dataType match {
        case st: StructType => stamped.copy(dataType = StructType(st.fields.map(one)))
        case _ => stamped
      }
    }
    StructType(schema.fields.map(one))
  }

  /** Every id in a schema, nested struct fields included. */
  private[catalog] def allIds(s: StructType): Seq[Long] = s.fields.toSeq.flatMap { f =>
    idOf(f).toSeq ++ (f.dataType match {
      case st: StructType => allIds(st)
      case _ => Nil
    })
  }

  /** The next unused id across the WORKING schema, the stored current,
    * and every retired one — dropped columns' ids are never reused (a
    * recycled id would make an old file's column impersonate the new
    * one, even when the drop and the add share one ALTER statement). */
  def nextId(m: TableMeta, working: StructType): Long =
    (working +: m.schema +: m.schemas.values.toSeq).flatMap(allIds)
      .maxOption.getOrElse(0L) + 1

  def addStamped(working: StructType, m: TableMeta, name: String,
                 dt: DataType, nullable: Boolean = true,
                 extraMeta: Option[org.apache.spark.sql.types.Metadata] = None): StructType = {
    val base = StructField(name, dt, nullable,
      extraMeta.getOrElse(org.apache.spark.sql.types.Metadata.empty))
    if (!allStamped(working)) StructType(working.fields :+ base) // legacy: stay id-free
    else StructType(working.fields :+ withId(base, nextId(m, working)))
  }

  /** Safe metadata-only type promotions (Iceberg v3's widening set, r15;
    * probed against this Spark's vectorized parquet reader): old files'
    * physical values up-cast losslessly on read, footer-stat strings
    * decode under the wider type, and — for int→bigint bucket keys —
    * the murmur mix of the widened value equals the original's, so even
    * a bucket layout survives. Everything else reinterprets immutable
    * bytes and stays refused. */
  def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
    case (a: org.apache.spark.sql.types.DecimalType, b: org.apache.spark.sql.types.DecimalType) =>
      b.scale == a.scale && b.precision > a.precision
    case _ => false
  }

  /** Every (id, name) binding in a schema, nested struct fields
    * included (names lowercased). */
  private def idNamePairs(s: StructType): Seq[(Long, String)] = s.fields.toSeq.flatMap { f =>
    idOf(f).map(_ -> f.name.toLowerCase(java.util.Locale.ROOT)).toSeq ++ (f.dataType match {
      case st: StructType => idNamePairs(st)
      case _ => Nil
    })
  }

  /** Has any column visible in `schemaV` — top-level OR nested — carried
    * a DIFFERENT name in some other schema era of this table? If so,
    * files from that era can only resolve by field id — name matching
    * would null-fill. */
  def renameVisible(m: TableMeta, schemaV: StructType): Boolean = {
    val cur = idNamePairs(schemaV).toMap
    (m.schema +: m.schemas.values.toSeq).exists(s =>
      idNamePairs(s).exists { case (id, n) => cur.get(id).exists(_ != n) })
  }

  /** Does the same NESTED field name bind to different ids across two
    * struct shapes (a nested DROP+ADD or a rename collision)? Parquet's
    * row-group filters resolve nested paths by NAME, so such a path in
    * an old file would answer for the wrong column. */
  private def nestedNameDrift(a: DataType, b: DataType): Boolean = (a, b) match {
    case (as: StructType, bs: StructType) =>
      val an = as.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> idOf(f)).toMap
      val bn = bs.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> idOf(f)).toMap
      an.exists { case (n, id) => bn.get(n).exists(_ != id) } ||
        as.fields.exists(af => bs.fields.find(_.name.equalsIgnoreCase(af.name))
          .exists(bf => nestedNameDrift(af.dataType, bf.dataType)))
    case _ => false
  }

  /** Columns of `schemaV` whose NAME was also used by a DIFFERENT field
    * id in some schema era (DROP c + ADD c, or a rename onto a retired
    * name — both legal since r16). Predicates on these columns must NOT
    * be forwarded to the parquet delegate: parquet-mr's row-group filter
    * matches columns by NAME even under field-id reads, so an old file's
    * same-named column would answer for the new one and silently drop
    * rows (probed: `score IS NULL` returned 0 of 40). Our own manifest
    * pruning is id-keyed and stays; Spark re-evaluates every predicate
    * above the scan, so the only cost is row-group pruning on the reused
    * column. Lowercased names. */
  def reusedNames(m: TableMeta, schemaV: StructType): Set[String] =
    schemaV.fields.filter { cf =>
      idOf(cf).exists(cid =>
        (m.schema +: m.schemas.values.toSeq).exists(s =>
          // this top-level NAME bound to a different id in some era
          s.fields.exists(of =>
            of.name.equalsIgnoreCase(cf.name) && idOf(of).exists(_ != cid)) ||
          // or a NESTED path under this column bound to a different id
          s.fields.find(of => idOf(of).contains(cid))
            .exists(of => nestedNameDrift(cf.dataType, of.dataType))))
    }.map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Re-stamp ids onto a WRITE schema by name from the table schema —
    * the analyzer strips field metadata from write plans, so the
    * delegate writer would otherwise emit id-less files. Recurses into
    * struct columns so nested fields keep their ids too (r16). */
  def restamp(tableSchema: StructType, writeSchema: StructType): StructType =
    StructType(writeSchema.fields.map { wf =>
      tableSchema.fields.find(_.name.equalsIgnoreCase(wf.name)) match {
        case Some(tf) =>
          val withTopId = idOf(tf).map(withId(wf, _)).getOrElse(wf)
          (withTopId.dataType, tf.dataType) match {
            case (ws: StructType, ts: StructType) =>
              withTopId.copy(dataType = restamp(ts, ws))
            case _ => withTopId
          }
        case None => wf
      }
    })
}

/** Encoding/decoding of a table's declared cluster keys (the manifest's
  * `clusterBy` strings): `"c"` = identity on column c, `"days(c)"` /
  * `"hours(c)"` = the time transform on c. One place owns the string
  * format so the DDL side, `partitioning()` reporting, and the write
  * distribution can never drift. */
private[catalog] object ClusterSpec {
  val TimeUnits: Set[String] = Set("days", "hours", "months")
  private val BucketRe = "^bucket\\((\\d+),\\s*(.+)\\)$".r

  /** `"bucket(16,doc_id)"` → the table's bucket layout; None otherwise. */
  def parseBucket(s: String): Option[BucketLayout] = s match {
    case BucketRe(n, col) => Some(BucketLayout(n.toInt, col))
    case _ => None
  }

  /** Split a comma-separated cluster-key list at TOP-LEVEL commas only —
    * `"bucket(8,id),ts"` is two entries, not three. */
  def splitList(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach { c =>
      if (c == ',' && depth == 0) { out += cur.toString; cur.clear() }
      else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
      }
    }
    out += cur.toString
    out.iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** → (column, transform unit); None = identity. Bucket entries report
    * unit `"bucket"` (count via [[parseBucket]]). */
  def parse(s: String): (String, Option[String]) = {
    val m = "^([A-Za-z]+)\\((.+)\\)$".r
    s match {
      case BucketRe(_, col) => (col, Some("bucket"))
      case m(unit, col) if TimeUnits.contains(unit) => (col, Some(unit))
      case _ => (s, None)
    }
  }

  /** Shared cluster-key validation (DDL + set_clustering): columns
    * exist, time transforms sit on time columns, at most one bucket
    * transform with a supported key type and sane count. */
  def validate(clusterBy: Seq[String], schema: StructType): Unit = {
    clusterBy.foreach { c =>
      val (colName, unit) = parse(c)
      require(schema.fieldNames.contains(colName),
        s"cluster column '$colName' is not in the schema (${schema.fieldNames.mkString(", ")})")
      unit.filter(TimeUnits.contains).foreach { u =>
        val dt = schema(colName).dataType
        val dateOk = u == "days" || u == "months"
        val ok = dt == org.apache.spark.sql.types.TimestampType ||
          dt == org.apache.spark.sql.types.TimestampNTZType ||
          (dt == org.apache.spark.sql.types.DateType && dateOk)
        require(ok, s"$u($colName) needs a timestamp column" +
          (if (dateOk) " or date column" else "") + s"; '$colName' is $dt")
      }
    }
    val buckets = clusterBy.flatMap(parseBucket)
    require(buckets.size <= 1,
      s"at most one bucket(n, col) transform per table; got ${buckets.size}")
    buckets.foreach { bl =>
      require(bl.numBuckets >= 1 && bl.numBuckets <= GraftBucket.MaxBuckets,
        s"bucket count must be in [1, ${GraftBucket.MaxBuckets}], got ${bl.numBuckets}")
      require(GraftBucket.supported(schema(bl.column).dataType),
        s"bucket(${bl.column}) needs an int, bigint, string, or date column; " +
          s"'${bl.column}' is ${schema(bl.column).dataType}")
    }
  }

  def toTransform(s: String): Transform = s match {
    case BucketRe(n, col) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n.toInt, col)
    case _ => parse(s) match {
      case (c, None) => org.apache.spark.sql.connector.expressions.Expressions.identity(c)
      case (c, Some("days")) => org.apache.spark.sql.connector.expressions.Expressions.days(c)
      case (c, Some("hours")) => org.apache.spark.sql.connector.expressions.Expressions.hours(c)
      case (c, Some("months")) => org.apache.spark.sql.connector.expressions.Expressions.months(c)
      case (_, Some(other)) => throw new IllegalStateException(s"unknown transform $other")
    }
  }
}

/** The `days` / `hours` partition-transform function: micros-since-epoch
  * floor-divided to the unit (dates are already day numbers). Serves the
  * write-side range distribution of a time-clustered table — evaluated
  * once per written row to form the shuffle key; the READ side never
  * evaluates it (queries predicate on the raw ts column and prune via
  * its footer stats), so a row-at-a-time produceResult is the right
  * cost/complexity point. */
private[catalog] class TimeTransformFunction(unit: String)
    extends functions.UnboundFunction {
  import org.apache.spark.sql.types._

  override def name(): String = unit
  override def description(): String =
    s"$unit(ts): partition transform — $unit since epoch"

  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit takes exactly one argument, got ${inputType.fields.length}")
    val dt = inputType.fields(0).dataType
    val dateOk = unit == "days" || unit == "months"
    dt match {
      case TimestampType | TimestampNTZType => ()
      case DateType if dateOk => ()
      case other => throw new UnsupportedOperationException(
        s"$unit() needs a timestamp${if (dateOk) " or date" else ""} column, got $other")
    }
    // fixed-length units divide; months (calendar-length) go through
    // LocalDate — all three are MONOTONE in the raw value, which is what
    // lets range clustering + raw-column footer-stat skipping hold
    val divisor = if (unit == "days") 86_400_000_000L else 3_600_000_000L
    new functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(dt)
      override def resultType(): DataType = IntegerType
      override def name(): String = unit
      override def canonicalName(): String = s"graft.$unit"
      override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer =
        if (input.isNullAt(0)) null
        else {
          val epochDays: Long =
            if (dt == DateType) input.getInt(0).toLong
            else Math.floorDiv(input.getLong(0), 86_400_000_000L)
          unit match {
            case "months" =>
              val d = java.time.LocalDate.ofEpochDay(epochDays)
              Integer.valueOf((d.getYear - 1970) * 12 + (d.getMonthValue - 1))
            case "days" => Integer.valueOf(epochDays.toInt)
            case _ => // hours: timestamp-only (dateOk guard above)
              Integer.valueOf(Math.floorDiv(input.getLong(0), divisor).toInt)
          }
        }
    }
  }
}

/** `CALL <cat>.system.expire_versions(table => '<ns.table>', keep_last
  * => K)` — snapshot retention: drops every manifest older than the
  * newest K, then deletes the data files no surviving manifest
  * references. This is the storage-reclaim half of the copy-on-write
  * story (without it a 100 TB table's rewrites accumulate dead files
  * forever); the version chain keeps its numbering, so kept versions
  * stay addressable by the same `VERSION AS OF` they always had.
  * Returns one row: (expired_versions, kept_versions, deleted_files). */
private[catalog] class ExpireVersionsProcedure(cat: GraftCatalog) extends GraftProcedure(
    "expire_versions",
    "drop table versions older than the newest keep_last; delete unreferenced data files",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType).build()),
    StructType(Seq(
      StructField("expired_versions", IntegerType, nullable = false),
      StructField("kept_versions", IntegerType, nullable = false),
      StructField("deleted_files", IntegerType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val keepLast = input.getInt(1)
    require(keepLast >= 1, s"keep_last must be >= 1, got $keepLast")
    val dir = cat.existingTableDir(table)
    // expire under the table's commit lock: readers of KEPT versions
    // are unaffected (their manifests and files survive); a racing
    // writer serializes on the same lock
    val (nExpired, nKept, nDeleted) =
      GraftTable.withCommitLock(dir) {
        val m = TableMeta.read(dir)
        val keepFrom = m.latest - keepLast + 1
        // TAGGED versions are retention-pinned (Iceberg tag
        // semantics): a release tag must outlive the rolling window,
        // or tagging would be decorative
        val tagged = m.tags.values.toSet
        val (expired, kept) = m.history.partition(c =>
          c.version < keepFrom && !tagged.contains(c.version))
        // files referenced by any WAP branch stay live: an unpublished
        // staging chain must keep reading its fork-point snapshot.
        // Deletion-vector and equality-delete blobs are referenced
        // files like any other (an expired generation's tombstones
        // are reclaimed with it; live ones are pinned).
        def refs(c: Commit): Seq[String] =
          c.files ++ c.dvs.values.map(_.path) ++ c.eqs.map(_.path)
        val live = kept.flatMap(refs).toSet ++
          m.branches.values.flatten.flatMap(refs)
        val dead = expired.flatMap(refs).filterNot(live).distinct
        TableMeta.write(dir, m.copy(history = kept), expectedLatest = Some(m.latest))
        dead.foreach(f => Files.deleteIfExists(dir.resolve(f)))
        // cached change-feed dirs OF expired commits go with them (a
        // kept commit's cache stays readable even if its parent
        // expired — it was materialized while the parent lived)
        val cdfDir = dir.resolve("cdf")
        if (Files.isDirectory(cdfDir)) {
          val vPat = "^v(\\d+)-k".r
          val l = Files.list(cdfDir)
          val doomed = try l.iterator().asScala.filter { p =>
            vPat.findFirstMatchIn(p.getFileName.toString)
              .exists(_.group(1).toInt < keepFrom)
          }.toSeq finally l.close()
          doomed.foreach(graft.Artifacts.deleteTree)
        }
        (expired.size, kept.size, dead.size)
      }
    Seq(InternalRow(nExpired, nKept, nDeleted))
  }
}

/** Per-file data-skipping statistics, collected from parquet FOOTERS at
  * commit time (metadata-only — no data pages are read, so the cost is
  * ∝ file count, the same budget Iceberg/Delta spend writing their
  * manifests). `mins`/`maxs` hold a canonical string encoding per
  * top-level column (decoded against the TABLE schema at prune time);
  * `nullCounts` is -1 when parquet didn't know. Columns absent from the
  * maps have no usable stats and never prune. */
private[graft] case class FileStats(rows: Long, mins: Map[String, String],
                                    maxs: Map[String, String],
                                    nullCounts: Map[String, Long],
                                    bucket: Option[Int] = None)

/** `CALL <cat>.system.compact(table => '<ns.table>', target_files => N
  * [, sort_by => 'c1,c2'])` — bin-pack the live manifest's files into at
  * most N (the OPTIMIZE verb): reads the current snapshot, coalesces (no
  * shuffle — parquet splits are concatenated, rows and order within each
  * input untouched), writes a fresh file set, and commits it as a
  * REPLACE. With `sort_by`, the rewrite is a CLUSTERING rewrite instead
  * (Iceberg's rewrite_data_files sort strategy): a range repartition on
  * the sort columns hands each output file a contiguous key range and an
  * in-file sort keeps row groups tight, so the manifest's per-file
  * min/max bounds become disjoint on the leading column — the write-side
  * layout that makes [[SkipEval]] file skipping (and parquet row-group
  * pruning inside kept files) effective on a previously scattered table.
  * Historical versions keep referencing the small files they always did
  * (compaction is invisible to time travel); the small files become
  * reclaimable only when `expire_versions` retires the last manifest
  * naming them — the OPTIMIZE-then-VACUUM pairing every lakehouse runs
  * nightly. The rewrite runs OUTSIDE the commit lock; a commit racing a
  * concurrent writer fails with a conflict and the caller retries —
  * compaction must never block or clobber ingest. A table already at or
  * under `target_files` is a no-op (no empty commit) unless `sort_by`
  * demands a re-layout. Returns one row:
  * (files_before, files_after, rows).
  *
  * With `zorder_by => 'c1,c2[,…]'` (Delta's OPTIMIZE ZORDER BY, ≥ 2
  * columns) the rewrite interleaves RANK buckets instead: each column
  * is bucketed by its own approximate percentile boundaries (GK sketch,
  * one pass, skew-proof where linear min/max scaling is not), the
  * per-column bucket bits interleave into a Morton key, and the range
  * repartition + in-file sort run on that key — every output file
  * covers a compact z-square, so its footer min/max stay tight on EVERY
  * zorder dimension and [[SkipEval]] prunes the FILE LIST for a
  * selective predicate on ANY of them. `sort_by` clusters one leading
  * dimension perfectly and the others not at all; `zorder_by` is the
  * layout for tables probed on several (the events table's user/time
  * pair). Mutually exclusive with `sort_by`; columns must be numeric /
  * date / timestamp (rank bucketing needs an order with usable footer
  * stats).
  *
  * With `min_tombstone_ratio => 0.2` the compact turns SELECTIVE
  * (Delta's "purge" threshold, the MOR production loop's self-healing
  * knob): only files whose deletion-vector ratio is at or above the
  * threshold are rewritten (masked — their vectors materialize away);
  * every other file, vectored or not, inherits verbatim. The
  * continuous-upsert table (`q_stream_mor_upsert`'s shape) thus
  * compacts at churn cost instead of table cost. Mutually exclusive
  * with the clustering rewrites (those touch everything anyway). */
private[catalog] class CompactProcedure(cat: GraftCatalog) extends GraftProcedure(
    "compact",
    "bin-pack the live manifest into at most target_files files (a REPLACE commit)",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_files", IntegerType).build(),
      ProcedureParameter.in("sort_by", StringType)
        .defaultValue("NULL").comment("comma-separated sort columns for a clustering rewrite")
        .build(),
      ProcedureParameter.in("zorder_by", StringType)
        .defaultValue("NULL")
        .comment(">=2 comma-separated columns for a Morton (z-order) clustering rewrite")
        .build(),
      ProcedureParameter.in("min_tombstone_ratio", DoubleType)
        .defaultValue("NULL")
        .comment("rewrite ONLY files whose deletion-vector ratio is at or above this; " +
          "the rest inherit untouched (the MOR self-healing loop)")
        .build()),
    StructType(Seq(
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val target = input.getInt(1)
    val sortBy = if (input.isNullAt(2)) Nil
      else input.getUTF8String(2).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val zorderBy = if (input.isNullAt(3)) Nil
      else input.getUTF8String(3).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val tombstoneRatio = if (input.isNullAt(4)) None else Some(input.getDouble(4))
    require(target >= 1, s"target_files must be >= 1, got $target")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sort_by and zorder_by are mutually exclusive clustering strategies")
    require(zorderBy.isEmpty || zorderBy.length >= 2,
      "zorder_by needs >= 2 columns (one column is just sort_by)")
    tombstoneRatio.foreach { r =>
      require(r > 0.0 && r <= 1.0, s"min_tombstone_ratio must be in (0, 1], got $r")
      require(sortBy.isEmpty && zorderBy.isEmpty,
        "min_tombstone_ratio is a selective materialization — a clustering " +
          "re-layout rewrites everything anyway; drop one of the two")
    }
    val dir = cat.existingTableDir(table)
    val spark = SparkSession.active
    val m = TableMeta.read(dir)
    (sortBy ++ zorderBy).foreach(c => require(m.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"clustering column '$c' is not in ${m.schema.fieldNames.mkString(", ")}"))
    zorderBy.foreach { c =>
      val dt = m.schema(m.schema.fieldNames.find(_.equalsIgnoreCase(c)).get).dataType
      require(CompactProcedure.zorderable(dt),
        s"zorder_by column '$c' is $dt; rank bucketing needs a numeric/date/timestamp column")
    }
    val mf = m.manifest(m.latest)
    val rowsFromStats = mf.files.flatMap(mf.stats.get).map(_.rows).sum -
      mf.dvs.values.map(_.rows).sum
    val (before, after, rows) = tombstoneRatio match {
      case Some(r) =>
        // SELECTIVE materialization (the MOR self-healing loop): only
        // files whose tombstone ratio crossed the threshold are
        // rewritten masked; everything else — files with light or no
        // vectors — inherits verbatim, vectors included. Churn cost,
        // not table cost: the continuous-upsert table compacts what
        // actually rotted.
        // selective rewrites can't see equality tombstones' per-file
        // applicability windows move — only a FULL compact clears them
        require(mf.eqs.isEmpty,
          s"$table has live equality-delete tombstones; selective " +
            "(min_tombstone_ratio) compaction would re-stamp rewritten files past " +
            "them — run a full CALL system.compact first")
        val selectedSet = mf.files.filter(f => mf.dvs.get(f).exists(dv =>
          mf.stats.get(f).exists(st => st.rows > 0 &&
            dv.rows.toDouble / st.rows >= r))).toSet
        val selected = mf.files.filter(selectedSet)
        if (selected.isEmpty) (mf.files.size, mf.files.size, 0L)
        else {
          val staging = dir.resolve("data").resolve(s"c-${UUID.randomUUID().toString.take(12)}")
          val bloomOpts = new GraftTable(table, dir, pinnedVersion = None).bloomWriteOptions
          val bucketLayout = m.clusterBy.flatMap(ClusterSpec.parseBucket).headOption
          bucketLayout match {
            case Some(_) =>
              // a bucketed MOR table's selective materialization must
              // stay bucket-pure: each selected file's replacement is
              // written under its own b<id> staging subdir (the same
              // bucket channel as the full bucketed compact below)
              require(selected.forall(f => mf.stats.get(f).flatMap(_.bucket).isDefined),
                s"$table: bucketed manifest has vectored files without bucket ids")
              selected.groupBy(f => mf.stats(f).bucket.get).toSeq.sortBy(_._1)
                .foreach { case (b, fs) =>
                  Dv.maskedFrame(spark, dir, m.schema, fs,
                      mf.dvs.view.filterKeys(fs.toSet).toMap)
                    .coalesce(math.max(1, math.min(target, fs.size)))
                    .write.options(bloomOpts)
                    .parquet(staging.resolve(s"b$b").toString)
                }
            case None =>
              Dv.maskedFrame(spark, dir, m.schema, selected,
                  mf.dvs.view.filterKeys(selectedSet).toMap)
                .coalesce(math.min(target, selected.size))
                .write.options(bloomOpts).parquet(staging.toString)
          }
          val s = Files.walk(staging)
          val abs = try s.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet")).toSeq
          finally s.close()
          val rel = abs.map(p => dir.relativize(p).toString)
          val t0 = new GraftTable(table, dir, pinnedVersion = None)
          val stats0 = FooterStats.collect(dir, abs, m.schema,
            spark.sessionState.newHadoopConf(), requireIdsAs = t0.idRequirement)
          val stats =
            if (bucketLayout.isEmpty) stats0
            else stats0.map { case (r0, fs) =>
              val parent = java.nio.file.Paths.get(r0).getParent.getFileName.toString
              val b = "^b(\\d+)$".r.findFirstMatchIn(parent).map(_.group(1).toInt)
                .getOrElse(throw new IllegalStateException(
                  s"$table: staged file '$r0' outside a bucket subdir on bucketed compact"))
              r0 -> fs.copy(bucket = Some(b))
            }
          t0.commitVersion(
            "compact", m.latest, rel, replace = true, newStats = stats,
            dataChange = false, replacedFiles = Some(selected))
          (mf.files.size, mf.files.size - selected.size + rel.size,
            stats.values.map(_.rows).sum)
        }
      case None =>
      // a manifest carrying deletion vectors OR equality tombstones
      // is never a no-op: compaction is how MOR tombstones of either
      // flavor get MATERIALIZED away
      if (mf.files.size <= target && sortBy.isEmpty && zorderBy.isEmpty &&
          mf.dvs.isEmpty && mf.eqs.isEmpty)
        (mf.files.size, mf.files.size, rowsFromStats)
      else {
        val staging = dir.resolve("data").resolve(s"c-${UUID.randomUUID().toString.take(12)}")
        def shape(df: org.apache.spark.sql.DataFrame, nOut: Int): org.apache.spark.sql.DataFrame =
          if (zorderBy.nonEmpty) CompactProcedure.zorderLayout(df, zorderBy, nOut)
          else if (sortBy.isEmpty) df.coalesce(nOut)
          else {
            val cols = sortBy.map(org.apache.spark.sql.functions.col)
            df.repartitionByRange(nOut, cols: _*).sortWithinPartitions(cols: _*)
          }
        val bucketLayout = m.clusterBy.flatMap(ClusterSpec.parseBucket).headOption
          .filter(_ => mf.files.nonEmpty)
        val bloomOpts = new GraftTable(table, dir, pinnedVersion = None).bloomWriteOptions
        bucketLayout match {
          case Some(_) =>
            // bucket-pure compaction: each bucket's file group is
            // shaped and written as its OWN job into a `b<id>`
            // staging subdir — no cross-bucket mixing by
            // construction, bucket recovered from the dir name at
            // commit. Jobs run concurrently (bounded pool); a
            // same-cluster union write is NOT an option — Spark 4's
            // partitioning-aware UnionExec zips equal-partitioned
            // children into shared partitions, interleaving buckets.
            // Vectored members (MOR × bucket, r15) read MASKED, so
            // this rewrite also materializes their tombstones away —
            // masking removes rows, never moves them across buckets.
            require(mf.files.forall(f => mf.stats.get(f).flatMap(_.bucket).isDefined),
              s"$table: bucketed manifest has files without bucket ids; " +
                "compacting them would break the storage-partitioned join layout")
            val groups = mf.files.groupBy(f => mf.stats(f).bucket.get).toSeq.sortBy(_._1)
            val perGroup = math.max(1, target / groups.size)
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(8, groups.size))
            try {
              val futures = groups.map { case (b, fs) =>
                pool.submit(new java.util.concurrent.Callable[Unit] {
                  override def call(): Unit =
                    shape(Eq.maskedFrame(spark, dir, m.schema, fs,
                        mf.dvs.view.filterKeys(fs.toSet).toMap, mf), perGroup)
                      .write.options(bloomOpts)
                      .parquet(staging.resolve(s"b$b").toString)
                })
              }
              futures.foreach(_.get())
            } finally pool.shutdown()
          case None =>
            // the live snapshot: vectored files read masked and
            // equality tombstones anti-join away, so the rewrite
            // writes only surviving rows and the commit's fresh files
            // carry neither flavor (the manifest replace drops both)
            shape(Eq.maskedFrame(spark, dir, m.schema, mf.files, mf.dvs, mf), target)
              .write.options(bloomOpts).parquet(staging.toString)
        }
        val s = Files.walk(staging)
        val abs = try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet")).toSeq
        finally s.close()
        val rel = abs.map(p => dir.relativize(p).toString)
        val table0 = new GraftTable(table, dir, pinnedVersion = None)
        val stats0 = FooterStats.collect(dir, abs, m.schema,
          spark.sessionState.newHadoopConf(), requireIdsAs = table0.idRequirement)
        val stats =
          if (bucketLayout.isEmpty) stats0
          else stats0.map { case (r, fs) =>
            val parent = java.nio.file.Paths.get(r).getParent.getFileName.toString
            val b = "^b(\\d+)$".r.findFirstMatchIn(parent).map(_.group(1).toInt)
              .getOrElse(throw new IllegalStateException(
                s"$table: staged file '$r' outside a bucket subdir on bucketed compact"))
            r -> fs.copy(bucket = Some(b))
          }
        // dataChange = false: rows are identical, only layout moved —
        // streaming readers of this table skip the commit entirely
        table0.commitVersion("compact", m.latest, rel, replace = true,
          newStats = stats, dataChange = false)
        (mf.files.size, rel.size, stats.values.map(_.rows).sum)
      }
    }
    Seq(InternalRow(before, after, rows))
  }
}

private[catalog] object CompactProcedure {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  def zorderable(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Rank-bucketed Morton (z-order) layout: each column maps to its
    * approximate-percentile bucket (GK sketch boundaries, ONE pass over
    * the snapshot, collected as metadata — 255 doubles per dimension),
    * bucket bits interleave into the z key, and the write range-
    * partitions + sorts on it. Rank buckets, not linear min/max
    * scaling, so a skewed dimension (ids with a hot head) still spreads
    * across the curve. NULLs land in bucket 0 — clustered together at
    * the curve's origin, prunable by IS NOT NULL stats like any other
    * value. The bucket expression is 255 codegen'd comparisons per
    * dimension per row (a broadcast-literal array filter), the z fold
    * `bits × dims` shifts — all whole-stage codegen, no UDF, no
    * shuffle beyond the one range repartition every clustering rewrite
    * pays. */
  def zorderLayout(snapshot: DataFrame, cols: Seq[String], target: Int,
                   bits: Int = 8): DataFrame = {
    val n = cols.length
    val dcols = cols.zipWithIndex.map { case (c, i) =>
      val field = snapshot.schema(snapshot.schema.fieldNames
        .find(_.equalsIgnoreCase(c)).get)
      val d = field.dataType match {
        case TimestampType | TimestampNTZType => unix_micros(col(c)).cast(DoubleType)
        case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast(DoubleType)
        case _ => col(c).cast(DoubleType)
      }
      (s"__z_d$i", d)
    }
    val withD = dcols.foldLeft(snapshot) { case (df, (nm, e)) => df.withColumn(nm, e) }
    val nBounds = (1 << bits) - 1
    val probs = (1 to nBounds).map(_.toDouble / (nBounds + 1)).toArray
    val bounds = withD.stat.approxQuantile(dcols.map(_._1).toArray, probs, 0.001)
    val withB = dcols.zipWithIndex.foldLeft(withD) { case (df, ((nm, _), i)) =>
      val arr = array(bounds(i).map(v => lit(v)): _*)
      df.withColumn(s"__z_b$i",
        size(filter(arr, b => b <= col(nm))).cast(LongType))
    }
    val z = (0 until bits).flatMap(k => (0 until n).map(i =>
      shiftleft(shiftright(col(s"__z_b$i"), k).bitwiseAND(lit(1L)), k * n + i)))
      .reduce(_ + _)
    withB.withColumn("__zval", z)
      .repartitionByRange(target, col("__zval"))
      .sortWithinPartitions("__zval")
      .select(snapshot.columns.map(col): _*)
  }
}

/** One commit in a table's history: `version`'s manifest is `files`
  * (paths relative to the table dir). `stats` carries [[FileStats]] per
  * relative path; files without an entry (pre-stats manifests) are
  * always scanned. `dataChange = false` marks a commit that changed
  * LAYOUT but not rows (compaction/clustering) — streaming readers skip
  * it ([[GraftMicroBatchStream]]), the same flag Delta/Iceberg use to
  * keep OPTIMIZE invisible to downstream streams. */
/** `CALL <cat>.system.restore(table => 'ns.t', version => V)` — Delta's
  * RESTORE: roll the table's CONTENT back to version V by appending a
  * NEW commit whose manifest is V's file list (zero-copy — immutable
  * files are re-referenced, never moved). History is preserved: the bad
  * versions stay addressable for forensics, the rollback itself is a
  * versioned, time-travelable event, and streaming tails see one honest
  * dataChange commit instead of a rewritten past. Requires V to still
  * be in history (not expired). Returns (restored_to, new_version,
  * files). */
private[catalog] class RestoreProcedure(cat: GraftCatalog) extends GraftProcedure(
    "restore",
    "roll content back to an earlier version as a NEW commit (history preserved)",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", IntegerType).build()),
    StructType(Seq(
      StructField("restored_to", IntegerType, nullable = false),
      StructField("new_version", IntegerType, nullable = false),
      StructField("files", IntegerType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val v = input.getInt(1)
    val dir = cat.existingTableDir(table)
    val (newV, nFiles) =
      GraftTable.withCommitLock(dir) {
        val m = TableMeta.read(dir)
        val target = m.history.find(_.version == v).getOrElse(
          throw new IllegalArgumentException(
            s"cannot restore $table to v$v: not in history " +
              s"(${m.history.map(_.version).mkString(",")}) — expired versions are gone"))
        // CONTENT rolls back; the schema stays current (Delta's
        // RESTORE semantics) — field ids resolve the old files
        val next = Commit(m.latest + 1, System.currentTimeMillis(), s"restore(v$v)",
          target.files, target.stats, dataChange = true, dvs = target.dvs,
          schemaId = m.currentSchemaId,
          eqs = target.eqs, fileSeqs = target.fileSeqs)
        TableMeta.write(dir, m.copy(history = m.history :+ next),
          expectedLatest = Some(m.latest))
        (next.version, target.files.size)
      }
    Seq(InternalRow(v, newV, nFiles))
  }
}

/** `CALL <cat>.system.remove_orphans(table => 'ns.t' [, older_than_minutes
  * => M])` — Iceberg's remove_orphan_files: delete data files under the
  * table directory that NO manifest (main history or any branch)
  * references — the residue of aborted/crashed writes, which commits
  * never see but storage pays for forever. The age guard protects files
  * of writes that are staged but not yet committed: a staged file is
  * unreferenced until its manifest commit lands, so the guard MUST
  * exceed the longest write/compaction the table ever runs — the default
  * is 3 days (Iceberg's remove_orphan_files default, for the same
  * reason; ADVICE r12 flagged the old 10-minute default as deleting
  * in-flight staging mid-write). Runs under the commit lock so a racing
  * commit can't publish a file this call just measured as orphaned.
  * Returns (scanned, orphans_deleted). */
private[catalog] object RemoveOrphansProcedure {
  /** 3 days, Iceberg's default for the same guard. */
  val DefaultGuardMinutes: Int = 3 * 24 * 60
}

private[catalog] class RemoveOrphansProcedure(cat: GraftCatalog) extends GraftProcedure(
    "remove_orphans",
    "delete files under the table dir that no manifest or branch references",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_minutes", IntegerType)
        .defaultValue(RemoveOrphansProcedure.DefaultGuardMinutes.toString)
        .comment("age guard for in-flight staged writes; must exceed the longest write")
        .build()),
    StructType(Seq(
      StructField("scanned", IntegerType, nullable = false),
      StructField("orphans_deleted", IntegerType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val olderMin = if (input.isNullAt(1)) RemoveOrphansProcedure.DefaultGuardMinutes
      else input.getInt(1)
    require(olderMin >= 0, s"older_than_minutes must be >= 0, got $olderMin")
    val dir = cat.existingTableDir(table)
    val (scanned, deleted) =
      GraftTable.withCommitLock(dir) {
        val m = TableMeta.read(dir)
        def refs(c: Commit): Seq[String] =
          c.files ++ c.dvs.values.map(_.path) ++ c.eqs.map(_.path)
        val referenced = (m.history.flatMap(refs) ++
          m.branches.values.flatten.flatMap(refs)).toSet
        val dataDir = dir.resolve("data")
        val cutoff = System.currentTimeMillis() - olderMin * 60000L
        // only data files and deletion-vector blobs are candidates:
        // commit-protocol sidecars (_SUCCESS, .crc) are never in a
        // manifest, and a live file's checksum sidecar must not be
        // swept out from under it
        val s = Files.walk(dataDir)
        val all = try s.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && (p.getFileName.toString.endsWith(".parquet") ||
            p.getFileName.toString.endsWith(".dv") ||
            p.getFileName.toString.endsWith(".eq"))).toSeq
          finally s.close()
        val orphans = all.filter { p =>
          val rel = dir.relativize(p).toString
          !referenced.contains(rel) &&
            Files.getLastModifiedTime(p).toMillis < cutoff
        }
        orphans.foreach(Files.deleteIfExists(_))
        // sweep now-empty staging dirs (cosmetic, best-effort)
        val d = Files.list(dataDir)
        try d.iterator().asScala.filter(Files.isDirectory(_)).foreach { sub =>
          val l = Files.list(sub)
          val empty = try !l.iterator().hasNext finally l.close()
          if (empty) Files.deleteIfExists(sub)
        } finally d.close()
        (all.size, orphans.size)
      }
    Seq(InternalRow(scanned, deleted))
  }
}

/** `CALL <cat>.system.history(table => 'ns.t' [, branch => 'b'])` —
  * Delta's DESCRIBE HISTORY / Iceberg's snapshots table: one row per
  * retained commit of the main chain (or a branch's), oldest first —
  * the operator-facing audit log of what happened to a table and the
  * input for picking a `VERSION AS OF` / `RESTORE` target. Columns:
  * version, ts_millis, op, data_change, n_files, n_rows (−1 when any
  * file predates stats collection). Metadata-only: reads one manifest
  * file, never data. */
private[catalog] class HistoryProcedure(cat: GraftCatalog) extends GraftProcedure(
    "history",
    "the table's retained commit log, oldest first (DESCRIBE HISTORY)",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType)
        .defaultValue("NULL").comment("read a WAP branch's chain instead of main").build()),
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("ts_millis", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("data_change", BooleanType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val branch = if (input.isNullAt(1)) None else Some(input.getUTF8String(1).toString)
    val dir = cat.existingTableDir(table)
    val m = TableMeta.read(dir)
    val chain = branch match {
      case Some(b) => m.branches.getOrElse(b, throw new IllegalArgumentException(
        s"no branch '$b' on $table (have: ${m.branches.keys.toSeq.sorted.mkString(", ")})"))
      case None => m.history
    }
    chain.sortBy(_.version).map { c =>
      val rowCounts = c.files.map(f => c.stats.get(f).map(_.rows))
      // live rows = physical rows minus deletion-vector tombstones
      val nRows = if (rowCounts.forall(_.isDefined))
        rowCounts.flatten.sum - c.dvs.values.map(_.rows).sum
      else -1L
      InternalRow(c.version, c.tsMillis, UTF8String.fromString(c.op),
        c.dataChange, c.files.size, nRows)
    }
  }
}

/** `CALL <cat>.system.tag(table => 'ns.t', tag => 'rel-1' [, version =>
  * V])` / `…system.untag(table, tag)` — Iceberg tags: IMMUTABLE named
  * versions. `VERSION AS OF 'rel-1'` reads the tagged manifest forever
  * (the eval-set/release pin a training pipeline needs for
  * reproducibility), and `expire_versions` treats tagged versions as
  * retention-pinned — a rolling keep_last window can never silently
  * delete the corpus snapshot a published model was trained on. Tag
  * names share the `VERSION AS OF` namespace with branches, so
  * collisions (and numeric names, which version-number parsing would
  * shadow) are refused at tag time. Returns (action, tag, version). */
private[catalog] class TagProcedure(cat: GraftCatalog, untag: Boolean) extends GraftProcedure(
    if (untag) "untag" else "tag",
    if (untag) "remove a named version tag"
    else "pin a version under an immutable name (retention-proof; VERSION AS OF '<tag>')",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("tag", StringType).build()) ++
      (if (untag) Nil
      else Seq(ProcedureParameter.in("version", IntegerType)
        .defaultValue("NULL").comment("defaults to the current latest version").build())),
    StructType(Seq(
      StructField("action", StringType, nullable = false),
      StructField("tag", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val tagName = input.getUTF8String(1).toString
    val dir = cat.existingTableDir(table)
    val v = GraftTable.withCommitLock(dir) {
      val m = TableMeta.read(dir)
      if (untag) {
        val v = m.tags.getOrElse(tagName, throw new IllegalArgumentException(
          s"no tag '$tagName' on $table (tags: ${m.tags.keys.toSeq.sorted.mkString(", ")})"))
        TableMeta.write(dir, m.copy(tags = m.tags - tagName),
          expectedLatest = Some(m.latest))
        v
      } else {
        require(tagName.nonEmpty && tagName.toIntOption.isEmpty,
          s"tag name '$tagName' must be non-empty and non-numeric " +
            "(a numeric name is shadowed by version-number resolution)")
        require(!m.branches.contains(tagName),
          s"'$tagName' is already a branch of $table (tags and branches share " +
            "the VERSION AS OF namespace)")
        require(!m.tags.contains(tagName),
          s"tag '$tagName' already exists on $table (tags are immutable; untag first)")
        val v = if (input.isNullAt(2)) m.latest else input.getInt(2)
        require(m.history.exists(_.version == v),
          s"cannot tag $table@v$v: not in history " +
            s"(${m.history.map(_.version).mkString(",")})")
        TableMeta.write(dir, m.copy(tags = m.tags + (tagName -> v)),
          expectedLatest = Some(m.latest))
        v
      }
    }
    Seq(InternalRow(
      UTF8String.fromString(if (untag) "untagged" else "tagged"),
      UTF8String.fromString(tagName), v))
  }
}

/** `CALL <cat>.system.set_clustering(table => 'ns.t', cluster_by =>
  * 'days(ts)')` — CLUSTERING EVOLUTION without rewrite (Iceberg's
  * partition-spec evolution, possible here precisely because the layout
  * is a write-path contract plus stats-based skipping, not directory
  * paths): future writes range-cluster on the new keys, EXISTING files
  * stay exactly as written and keep pruning however well their old
  * layout allows — no 100 TB rewrite to change a table's clustering,
  * and no correctness cliff because [[SkipEval]] never assumed a layout,
  * only per-file bounds. `cluster_by => ''` declares the table
  * unclustered. Same transform grammar and validation as
  * `PARTITIONED BY` (identity / days / hours; bucket stays rejected).
  * Returns (old_clustering, new_clustering). */
private[catalog] class SetClusteringProcedure(cat: GraftCatalog) extends GraftProcedure(
    "set_clustering",
    "change the write-path clustering for FUTURE writes; existing files are untouched",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("cluster_by", StringType)
        .comment("comma-separated identity/days(col)/hours(col) keys; '' = unclustered")
        .build()),
    StructType(Seq(
      StructField("old_clustering", StringType, nullable = false),
      StructField("new_clustering", StringType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val clusterBy = ClusterSpec.splitList(input.getUTF8String(1).toString)
    val dir = cat.existingTableDir(table)
    val old = GraftTable.withCommitLock(dir) {
      val m = TableMeta.read(dir)
      ClusterSpec.validate(clusterBy, m.schema)
      // identity/time keys evolve freely (write-path only, existing
      // files keep their old layout) — but a NEW or CHANGED bucket
      // spec would leave existing files without valid bucket ids, so
      // it is only accepted on an empty table; dropping the bucket
      // spec is always fine (stale ids are simply ignored)
      val newBucket = clusterBy.flatMap(ClusterSpec.parseBucket).headOption
      val oldBucket = m.clusterBy.flatMap(ClusterSpec.parseBucket).headOption
      if (newBucket.isDefined && newBucket != oldBucket) {
        // EVERY retained version must be file-free, not just the
        // latest: a time-travel scan of an old version reads its
        // files' recorded bucket ids against the CURRENT layout, and
        // stale mod-n labels would mis-co-locate an SPJ join
        require(m.history.forall(_.files.isEmpty) && m.branches.isEmpty,
          s"cannot change the bucket layout of $table: retained versions still " +
            "reference files whose recorded bucket ids were computed under the " +
            "old layout; expire them first, or INSERT OVERWRITE into a freshly " +
            "bucketed table")
        // MOR + bucket compose since r15 (delta inserts fan out
        // bucket-pure) — no mode restriction here either
      }
      TableMeta.write(dir, m.copy(clusterBy = clusterBy),
        expectedLatest = Some(m.latest))
      m.clusterBy
    }
    Seq(InternalRow(
      UTF8String.fromString(old.mkString(",")),
      UTF8String.fromString(clusterBy.mkString(","))))
  }
}

/** WAP (write-audit-publish) branch maintenance:
  *
  *  - `CALL <cat>.system.create_branch(table => 'ns.t', branch => 'b')` —
  *    fork a zero-copy branch at the current main head (the branch chain
  *    starts as main's history; data files are immutable and shared).
  *  - `CALL … system.publish_branch(table, branch)` — FAST-FORWARD main
  *    to the branch head, atomically, iff main hasn't advanced since the
  *    fork (the branch chain must still extend main's history); the
  *    branch is removed. A diverged main (concurrent ingest, or expire
  *    rewrote history) refuses loudly — re-stage rather than silently
  *    merge.
  *  - `CALL … system.drop_branch(table, branch)` — abandon the staging:
  *    removes the branch and deletes the data files ONLY it references.
  *  - `CALL … system.rebase_branch(table, branch)` — when main ADVANCED
  *    under the staging (publish refuses): replay the branch's staged
  *    commits atop the current main head, file-granularly, so the WAP
  *    loop survives a concurrent ingest ([[BranchProcedure.rebasedChain]];
  *    overlapping file touches refuse loudly). Publish after a clean
  *    rebase fast-forwards as usual.
  *
  * Writes land on a branch via the Iceberg-style suffix identifier
  * `cat.ns.t.branch_<name>` (INSERT/UPDATE/DELETE/MERGE all work — the
  * row-level COW machinery is chain-agnostic), so the audit step reads
  * the staged table exactly as consumers would, while `cat.ns.t` keeps
  * serving the unpublished corpus. Returns one row
  * (action, branch, version, detail). */
private[catalog] class BranchProcedure(cat: GraftCatalog, mode: BranchProcedure.Mode)
    extends GraftProcedure(
      mode.procName,
      mode.describe,
      Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("branch", StringType).build()),
      StructType(Seq(
        StructField("action", StringType, nullable = false),
        StructField("branch", StringType, nullable = false),
        StructField("version", IntegerType, nullable = false),
        StructField("detail", IntegerType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val b = input.getUTF8String(1).toString
    require(b.matches("[A-Za-z0-9_]+"),
      s"branch names are [A-Za-z0-9_]+ (they become the identifier suffix branch_$b), got '$b'")
    val dir = cat.existingTableDir(table)
    val (version, detail) =
      GraftTable.withCommitLock(dir) {
        val m = TableMeta.read(dir)
        mode match {
          case BranchProcedure.Create =>
            require(!m.branches.contains(b), s"branch '$b' already exists on $table")
            TableMeta.write(dir, m.copy(branches = m.branches + (b -> m.history)),
              expectedLatest = Some(m.latest))
            (m.latest, 0)
          case BranchProcedure.Publish =>
            val ch = m.branches.getOrElse(b, throw new IllegalArgumentException(
              s"no branch '$b' on $table"))
            if (ch.take(m.history.size) != m.history)
              throw new IllegalStateException(
                s"cannot publish branch '$b' of $table: main advanced since the fork " +
                  s"(main at v${m.latest}); re-stage against the current head")
            TableMeta.write(dir, m.copy(history = ch, branches = m.branches - b),
              expectedLatest = Some(m.latest))
            (ch.map(_.version).max, ch.size - m.history.size)
          case BranchProcedure.Drop =>
            val ch = m.branches.getOrElse(b, throw new IllegalArgumentException(
              s"no branch '$b' on $table"))
            def refs(c: Commit): Seq[String] =
              c.files ++ c.dvs.values.map(_.path) ++ c.eqs.map(_.path)
            val retained = (m.history.flatMap(refs) ++
              (m.branches - b).values.flatten.flatMap(refs)).toSet
            val orphans = ch.flatMap(refs).distinct.filterNot(retained)
            TableMeta.write(dir, m.copy(branches = m.branches - b),
              expectedLatest = Some(m.latest))
            orphans.foreach(f => Files.deleteIfExists(dir.resolve(f)))
            (m.latest, orphans.size)
          case BranchProcedure.Rebase =>
            val ch = m.branches.getOrElse(b, throw new IllegalArgumentException(
              s"no branch '$b' on $table"))
            val rebased = BranchProcedure.rebasedChain(table, m, b)
            val nStaged = rebased.size - m.history.size
            TableMeta.write(dir, m.copy(branches = m.branches + (b -> rebased)),
              expectedLatest = Some(m.latest))
            (rebased.map(_.version).max, nStaged)
        }
      }
    Seq(InternalRow(UTF8String.fromString(mode.action),
      UTF8String.fromString(b), version, detail))
  }
}

private[catalog] object BranchProcedure {
  sealed trait Mode {
    def procName: String; def action: String; def describe: String
  }
  case object Create extends Mode {
    val procName = "create_branch"; val action = "created"
    val describe = "fork a zero-copy WAP branch at the current main head"
  }
  case object Publish extends Mode {
    val procName = "publish_branch"; val action = "published"
    val describe = "fast-forward main to the branch head (fails if main advanced)"
  }
  case object Drop extends Mode {
    val procName = "drop_branch"; val action = "dropped"
    val describe = "remove a branch and delete the files only it references"
  }
  case object Rebase extends Mode {
    val procName = "rebase_branch"; val action = "rebased"
    val describe = "replay the branch's staged commits atop current main " +
      "(file-granular; overlapping touched files refuse loudly)"
  }

  /** Replay `branch`'s staged commits atop the CURRENT main history —
    * the survival path for a WAP loop whose main advanced under it
    * (publish's refusal is correct but operationally a dead end: the
    * staged audit work would be lost). File-granular three-way merge:
    *
    *  - each staged commit is reduced to its DIFF against its parent
    *    (files removed, files added, deletion-vector entries repointed);
    *  - the diff replays onto the new base manifest in order, re-numbered
    *    past the current main head;
    *  - CONFLICT — refused loudly, branch untouched — when a staged
    *    commit removed (rewrote) a file that current main no longer
    *    carries, or repointed a vector on a file whose vector main has
    *    since changed: both sides touched the same file, and a silent
    *    merge would drop one side's rows.
    *
    * Concurrent appends (the common ingest race) never conflict: their
    * files are disjoint by construction, so main's new files ride
    * through every replayed manifest and the staged files land on top. */
  def rebasedChain(tableName: String, m: TableMeta, b: String): Seq[Commit] = {
    val ch = m.branches(b)
    // fork prefix: the longest leading run shared with current main
    val k = ch.zip(m.history).takeWhile { case (a, c) => a == c }.size
    require(k >= 1,
      s"cannot rebase branch '$b' of $tableName: no shared fork commit with the " +
        "current main (retention expired the fork point); re-stage against the " +
        "current head")
    val staged = ch.drop(k)
    if (staged.isEmpty) return m.history
    var cur = m.history.last
    var out = m.history
    staged.zipWithIndex.foreach { case (s, i) =>
      val parent = if (i == 0) ch(k - 1) else staged(i - 1)
      val parentFiles = parent.files.toSet
      val removed = parentFiles -- s.files.toSet
      val added = s.files.filterNot(parentFiles)
      val curFiles = cur.files.toSet
      removed.foreach { f =>
        require(curFiles.contains(f),
          s"cannot rebase branch '$b' of $tableName: staged commit v${s.version} " +
            s"(${s.op}) rewrote '$f', which main has since rewritten or removed — " +
            "overlapping file touches need a manual re-stage")
        // the staged rewrite was built from the file's FORK-time live
        // rows; if main has since changed the file's deletion vector,
        // replaying the rewrite would resurrect main's deletes
        require(cur.dvs.get(f) == parent.dvs.get(f),
          s"cannot rebase branch '$b' of $tableName: staged commit v${s.version} " +
            s"(${s.op}) rewrote '$f', whose deletion vector main has since changed — " +
            "overlapping row-level touches need a manual re-stage")
      }
      // vector repoints: entries that changed relative to the parent
      val dvChanged = s.dvs.filter { case (f, ref) => parent.dvs.get(f) != Some(ref) }
      dvChanged.keys.foreach { f =>
        // main must still CARRY the file (else the staged tombstones
        // would silently vanish with it) and must not have moved its
        // vector since the fork
        require(curFiles.contains(f),
          s"cannot rebase branch '$b' of $tableName: staged commit v${s.version} " +
            s"tombstoned rows of '$f', which main has since rewritten or removed — " +
            "overlapping row-level touches need a manual re-stage")
        require(cur.dvs.get(f) == parent.dvs.get(f),
          s"cannot rebase branch '$b' of $tableName: staged commit v${s.version} " +
            s"repointed the deletion vector of '$f', which main has also changed — " +
            "overlapping row-level touches need a manual re-stage")
      }
      val newFiles = cur.files.filterNot(removed) ++ added
      val newFileSet = newFiles.toSet
      val addedStats = s.stats.view.filterKeys(f => added.contains(f)).toMap
      val nextV = out.map(_.version).max + 1
      val next = Commit(nextV, System.currentTimeMillis(),
        s"${s.op}(rebased)", newFiles,
        cur.stats.view.filterKeys(newFileSet).toMap ++ addedStats,
        s.dataChange,
        (cur.dvs.view.filterKeys(newFileSet).toMap ++ dvChanged)
          .view.filterKeys(newFileSet).toMap,
        schemaId = cur.schemaId,
        // main's equality tombstones survive the rebase; the branch's
        // staged files are strictly newer than all of them (appends
        // replayed on top), so they stamp at the rebased version
        eqs = cur.eqs,
        fileSeqs = if (cur.eqs.isEmpty) Map.empty
          else cur.fileSeqs.view.filterKeys(newFileSet).toMap ++
            added.map(f => f -> nextV))
      out = out :+ next
      cur = next
    }
    out
  }
}

/** One DELETION VECTOR entry of a manifest: `path` (table-dir-relative)
  * holds the sorted positions of the data file's DELETED rows (format:
  * [[Dv]]), `rows` is their count (manifest-level accounting — history
  * row counts subtract it without opening the blob). Entries are
  * immutable like data files: a delta commit that deletes MORE rows of
  * an already-vectored file writes a NEW merged blob and repoints the
  * entry; older manifests keep reading the old blob (time travel). */
private[catalog] case class DvRef(path: String, rows: Long)

/** `eqs` (r16): live equality-delete tombstones ([[EqRef]]), inherited
  * by every commit until a full rewrite materializes them away.
  * `fileSeqs` records the commit version that ADDED each file (absent =
  * 0 — older than every tombstone); entries are only stamped while
  * tombstones are in play, so ordinary tables pay nothing. */
private[catalog] case class Commit(version: Int, tsMillis: Long, op: String,
                                   files: Seq[String],
                                   stats: Map[String, FileStats] = Map.empty,
                                   dataChange: Boolean = true,
                                   dvs: Map[String, DvRef] = Map.empty,
                                   schemaId: Int = 0,
                                   eqs: Seq[EqRef] = Nil,
                                   fileSeqs: Map[String, Int] = Map.empty)

/** Shared state of ONE row-level operation (MERGE/UPDATE/DELETE): the
  * scan side records which snapshot it planned against and which files
  * its group filtering kept; the write side commits a replace of exactly
  * those files. `baseVersion` is the SCAN-time version — committing
  * against it (not the write-time latest) makes a commit that raced in
  * between fail the conflict check instead of publishing a rewrite of a
  * stale snapshot. */
private[catalog] final class CowContext {
  @volatile var baseVersion: Int = -1
  @volatile var replaced: Seq[String] = Nil
}

private[catalog] case class TableMeta(schema: StructType, history: Seq[Commit],
                                      branches: Map[String, Seq[Commit]] = Map.empty,
                                      clusterBy: Seq[String] = Nil,
                                      streamEpochs: Map[String, Long] = Map.empty,
                                      props: Map[String, String] = Map.empty,
                                      tags: Map[String, Int] = Map.empty,
                                      schemas: Map[Int, StructType] = Map.empty) {
  def latest: Int = history.map(_.version).max
  def manifest(v: Int): Commit = history.find(_.version == v).getOrElse(
    throw new IllegalArgumentException(
      s"no version $v (history has ${history.map(_.version).mkString(",")})"))

  /** The schema a COMMIT was made under — what time travel serves (a
    * pre-rename version reads through the old name; a pre-drop version
    * still serves the dropped column). `schema` is always the CURRENT
    * one; `schemas` holds retired versions (legacy metas have none). */
  def schemaFor(c: Commit): StructType =
    if (c.schemaId == currentSchemaId) schema
    else schemas.getOrElse(c.schemaId, schema)

  def currentSchemaId: Int = history.sortBy(_.version).lastOption.map(_.schemaId)
    .getOrElse(0)
}

private[catalog] object TableMeta {
  val MetaFile = "meta.json"

  /** meta.json (de)serialization via Spark's bundled json4s — schema as
    * Spark's own schema-json dialect, history as a flat array. */
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def write(dir: Path, meta: TableMeta, expectedLatest: Option[Int]): Unit =
    GraftTable.withCommitLock(dir) {
      // optimistic concurrency: the caller computed `meta` against
      // `expectedLatest`; if another writer has since committed, fail the
      // commit instead of overwriting its manifest entry
      expectedLatest.foreach { exp =>
        val now = read(dir).latest
        if (now != exp)
          throw new IllegalStateException(
            s"concurrent commit conflict on $dir: expected latest v$exp, found v$now")
      }
      def commitJson(c: Commit): JObject = JObject(
        "version" -> JInt(c.version), "ts" -> JInt(c.tsMillis),
        "op" -> JString(c.op),
        "dataChange" -> JBool(c.dataChange),
        "files" -> JArray(c.files.map(JString(_)).toList),
        "stats" -> JObject(c.stats.toList.sortBy(_._1).map { case (f, s) =>
          f -> JObject(List(
            "rows" -> (JInt(s.rows): JValue),
            "mins" -> JObject(s.mins.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
            "maxs" -> JObject(s.maxs.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
            "nulls" -> JObject(s.nullCounts.toList.sortBy(_._1).map { case (k, v) => k -> (JInt(v): JValue) }))
            ++ s.bucket.map(b => "bucket" -> (JInt(b): JValue)).toList)
        }),
        "dvs" -> JObject(c.dvs.toList.sortBy(_._1).map { case (f, d) =>
          f -> JObject("path" -> JString(d.path), "rows" -> JInt(d.rows)) }),
        "eqs" -> JArray(c.eqs.toList.map(e => JObject(
          "path" -> JString(e.path), "key" -> JString(e.keyCol),
          "rows" -> JInt(e.rows), "seq" -> JInt(e.seq)))),
        "fileSeqs" -> JObject(c.fileSeqs.toList.sortBy(_._1).map {
          case (f, s) => f -> (JInt(s): JValue) }),
        "schemaId" -> JInt(c.schemaId))
      val json = JObject(
        "schema" -> JsonMethods.parse(meta.schema.json),
        "schemas" -> JObject(meta.schemas.toList.sortBy(_._1).map { case (id, s) =>
          id.toString -> JsonMethods.parse(s.json) }),
        "clusterBy" -> JArray(meta.clusterBy.map(JString(_)).toList),
        "streamEpochs" -> JObject(meta.streamEpochs.toList.sortBy(_._1).map {
          case (q, e) => q -> JInt(e) }),
        "props" -> JObject(meta.props.toList.sortBy(_._1).map {
          case (k, v) => k -> JString(v) }),
        "tags" -> JObject(meta.tags.toList.sortBy(_._1).map {
          case (k, v) => k -> JInt(v) }),
        "history" -> JArray(meta.history.sortBy(_.version).map(commitJson).toList),
        "branches" -> JObject(meta.branches.toList.sortBy(_._1).map { case (n, cs) =>
          n -> JArray(cs.sortBy(_.version).map(commitJson).toList)
        }))
      val tmp = Files.createTempFile(dir, ".meta", ".tmp")
      Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(json)))
      Files.move(tmp, dir.resolve(MetaFile), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  def read(dir: Path): TableMeta = {
    val j = JsonMethods.parse(Files.readString(dir.resolve(MetaFile)))
    val schema = DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
      .asInstanceOf[StructType]
    def parseCommit(c: JValue): Commit = {
      val stats = c \ "stats" match {
        case JObject(fields) => fields.map { case (f, s) =>
          def strMap(field: String): Map[String, String] = s \ field match {
            case JObject(kv) => kv.map { case (k, v) => k -> v.asInstanceOf[JString].s }.toMap
            case _ => Map.empty
          }
          val nulls = s \ "nulls" match {
            case JObject(kv) => kv.map { case (k, v) => k -> v.asInstanceOf[JInt].num.toLong }.toMap
            case _ => Map.empty[String, Long]
          }
          val bucket = s \ "bucket" match {
            case JInt(b) => Some(b.toInt)
            case _ => None
          }
          f -> FileStats((s \ "rows").asInstanceOf[JInt].num.toLong,
            strMap("mins"), strMap("maxs"), nulls, bucket)
        }.toMap
        case _ => Map.empty[String, FileStats]
      }
      val dvs = c \ "dvs" match {
        case JObject(fields) => fields.map { case (f, d) =>
          f -> DvRef((d \ "path").asInstanceOf[JString].s,
            (d \ "rows").asInstanceOf[JInt].num.toLong)
        }.toMap
        case _ => Map.empty[String, DvRef]
      }
      val eqs = c \ "eqs" match {
        case JArray(es) => es.map(e => EqRef(
          (e \ "path").asInstanceOf[JString].s,
          (e \ "key").asInstanceOf[JString].s,
          (e \ "rows").asInstanceOf[JInt].num.toLong,
          (e \ "seq").asInstanceOf[JInt].num.toInt))
        case _ => Nil
      }
      val fileSeqs = c \ "fileSeqs" match {
        case JObject(kv) => kv.map { case (f, s) => f -> s.asInstanceOf[JInt].num.toInt }.toMap
        case _ => Map.empty[String, Int]
      }
      Commit(
        (c \ "version").asInstanceOf[JInt].num.toInt,
        (c \ "ts").asInstanceOf[JInt].num.toLong,
        (c \ "op").asInstanceOf[JString].s,
        (c \ "files").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s),
        stats,
        c \ "dataChange" match { case JBool(b) => b; case _ => true },
        dvs,
        c \ "schemaId" match { case JInt(i) => i.toInt; case _ => 0 },
        eqs, fileSeqs)
    }
    val history = (j \ "history").asInstanceOf[JArray].arr.map(parseCommit)
    val branches = j \ "branches" match {
      case JObject(fields) => fields.map { case (n, cs) =>
        n -> cs.asInstanceOf[JArray].arr.map(parseCommit)
      }.toMap
      case _ => Map.empty[String, Seq[Commit]]
    }
    val clusterBy = j \ "clusterBy" match {
      case JArray(cs) => cs.map(_.asInstanceOf[JString].s)
      case _ => Nil
    }
    val streamEpochs = j \ "streamEpochs" match {
      case JObject(kv) => kv.map { case (q, e) => q -> e.asInstanceOf[JInt].num.toLong }.toMap
      case _ => Map.empty[String, Long]
    }
    val props = j \ "props" match {
      case JObject(kv) => kv.map { case (k, v) => k -> v.asInstanceOf[JString].s }.toMap
      case _ => Map.empty[String, String]
    }
    val tags = j \ "tags" match {
      case JObject(kv) => kv.map { case (k, v) => k -> v.asInstanceOf[JInt].num.toInt }.toMap
      case _ => Map.empty[String, Int]
    }
    val schemas = j \ "schemas" match {
      case JObject(kv) => kv.map { case (id, s) =>
        id.toInt -> DataType.fromJson(JsonMethods.compact(JsonMethods.render(s)))
          .asInstanceOf[StructType]
      }.toMap
      case _ => Map.empty[Int, StructType]
    }
    TableMeta(schema, history, branches, clusterBy, streamEpochs, props, tags, schemas)
  }
}

/** A snapshot-versioned parquet table (see [[GraftCatalog]]).
  * `pinnedVersion = Some(v)` is a time-travel view: readable, never
  * writable. `branch = Some(b)` is a WAP branch view: reads AND writes
  * resolve against the branch's commit chain (same schema, same data
  * directory, immutable shared files), leaving the main chain untouched
  * until `CALL system.publish_branch` fast-forwards it. */
class GraftTable(tableName: String, dir: Path, pinnedVersion: Option[Int],
                 branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsMetadataColumns with SupportsDeleteV2 {

  /** `TRUNCATE TABLE cat.ns.t`: one replace commit with an EMPTY file
    * list — a metadata-only operation (no data files move; earlier
    * versions keep reading them, so an accidental truncate is one
    * `CALL system.restore` away from undone, and the reclaim path stays
    * `expire_versions`, same as every other rewrite). */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty, s"$tableName is a time-travel view; truncate the live table")
    commitVersion("truncate", currentLatest, Nil, replace = true)
  }

  /** METADATA-ONLY DELETE ([[SupportsDeleteV2]] — Iceberg's metadata
    * delete): when the latest manifest PROVES, from footer stats alone,
    * that every file either holds no matching row (inherit it) or holds
    * ONLY matching rows (drop it whole), Spark's
    * OptimizeMetadataOnlyDeleteFromTable swaps the copy-on-write rewrite
    * for one `deleteWhere` call — a manifest commit that removes the
    * all-match files and writes NOTHING. The 100 TB shape this exists
    * for is retention on a time-clustered table: `DELETE FROM events
    * WHERE ts < cutoff` drops whole trailing files at any table size,
    * zero data IO, where even file-granular COW would re-write the
    * boundary's worth of files. The proof obligations live in
    * [[SkipEval.mustMatchAll]] (nulls known zero, bounds cover the
    * interval); ANY unprovable file — missing stats, straddling bounds,
    * unknown nulls, an untranslatable predicate like `doc_id % 7 = 3` —
    * refuses the whole metadata path and the verb falls back to the
    * ordinary COW rewrite: slower, never wrong. */
  override def canDeleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinnedVersion.isEmpty && metadataDeleteSet(predicates).isDefined

  override def deleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(pinnedVersion.isEmpty, s"$tableName is a time-travel view; DELETE goes to the live table")
    // recompute and commit under the table's commit lock (reentrant), so
    // a commit racing between canDeleteWhere and here either re-proves
    // against ITS manifest or fails this delete's conflict check instead
    // of dropping files a newer version still references
    GraftTable.withCommitLock(dir) {
      val dropped = metadataDeleteSet(predicates).getOrElse(throw new IllegalStateException(
        s"$tableName: metadata delete no longer provable at commit time " +
          "(a concurrent commit changed the manifest); re-run the DELETE"))
      commitVersion("delete", currentLatest, Nil, replace = true,
        replacedFiles = Some(dropped))
    }
  }

  /** The files a metadata delete would DROP, or None when any file (or
    * the predicate itself) is unprovable — per-file trichotomy over the
    * live manifest: all-match → drop, no-match → keep, anything else →
    * refuse. */
  private def metadataDeleteSet(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Option[Seq[String]] = {
    val m = meta
    val mf = chainManifest(m, chainLatest(m))
    val translated = predicates.toSeq.map(V2Preds.toCatalyst(_, m.schema))
    if (translated.exists(_.isEmpty)) None
    else {
      val es = translated.flatten
      val verdicts = mf.files.map { f =>
        mf.stats.get(f) match {
          case Some(st) =>
            if (es.forall(SkipEval.mustMatchAll(m.schema, st, _))) Some(true)
            else if (!es.forall(SkipEval.mightMatch(m.schema, st, _))) Some(false)
            else None
          case None => None
        }
      }
      if (verdicts.contains(None)) None
      else Some(mf.files.zip(verdicts).collect { case (f, Some(true)) => f })
    }
  }

  private def meta: TableMeta = TableMeta.read(dir)
  private def spark: SparkSession = SparkSession.active

  /** `_file` (see [[FileTag]]): user-selectable lineage column AND the
    * filter attribute of runtime group filtering on row-level verbs.
    * `_pos` (see [[Dv]]): the row's physical position in its file —
    * lineage for users, the second half of the MOR row id for delta
    * writes. A table with a real `_file`/`_pos` data column shadows the
    * metadata column of that name (Spark drops the conflict from
    * relation.metadataOutput; row-level ops then skip the corresponding
    * machinery). */
  override def metadataColumns(): Array[MetadataColumn] = Array(FileTag.column, Dv.posColumn)

  /** The commit chain this view reads and writes: a branch's chain when
    * this is a branch view, the main history otherwise. */
  private def chain(m: TableMeta): Seq[Commit] = branch match {
    case Some(b) => m.branches.getOrElse(b, throw new IllegalArgumentException(
      s"no branch '$b' on $tableName (have: ${m.branches.keys.toSeq.sorted.mkString(", ")})"))
    case None => m.history
  }
  private def chainLatest(m: TableMeta): Int = chain(m).map(_.version).max
  private def chainManifest(m: TableMeta, v: Int): Commit =
    chain(m).find(_.version == v).getOrElse(throw new IllegalArgumentException(
      s"no version $v on ${branch.fold("main")(b => s"branch '$b'")} of $tableName"))

  override def name(): String = tableName
  /** The CURRENT schema for live views; a time-travel view serves the
    * schema its pinned commit was made under — a pre-rename version
    * reads through the old name, a pre-drop version still serves the
    * dropped column. */
  override def schema(): StructType = {
    val m = meta
    pinnedVersion match {
      case Some(v) => m.schemaFor(chainManifest(m, v))
      case None => m.schema
    }
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def properties(): java.util.Map[String, String] = {
    val m = meta
    val out = new java.util.HashMap[String, String]()
    m.props.foreach { case (k, v) => out.put(k, v) }
    out.put("format", "parquet")
    out.put("provider", "graft")
    out.put("latest_version", chainLatest(m).toString)
    java.util.Collections.unmodifiableMap(out)
  }

  /** The row-level write mode this table declares:
    * `copy-on-write` (default) or `merge-on-read`. */
  private[catalog] def rowLevelMode: String =
    meta.props.getOrElse(GraftTable.RowLevelModeProp, GraftTable.CopyOnWrite)

  /** Columns declared for parquet-native BLOOM FILTERS
    * (`TBLPROPERTIES ('write.bloom.columns'='doc_id,…')`): every data
    * file written to this table carries a per-row-group bloom on each,
    * and the parquet reader consults it automatically on pushed
    * EQUALITY predicates — row groups provably missing the value are
    * skipped without decoding a page. This is the point-lookup
    * complement to min/max skipping: footer bounds prune a
    * high-cardinality column only where the layout clusters it, while
    * a bloom prunes `WHERE doc_id = X` on a SCATTERED table (the
    * takedown-by-id lookup at 100 TB). Cost: ~1 byte/distinct value per
    * file at write time, zero at read planning. */
  private[catalog] def bloomColumns: Seq[String] =
    meta.props.get(GraftTable.BloomColumnsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** `info` with this table's write-path parquet options injected (bloom
    * filters) AND the write schema re-stamped with the table's parquet
    * field ids ([[FieldIds.restamp]] — the analyzer strips field
    * metadata from write plans, and an id-less file would break
    * rename/drop resolution). Options land in the delegate
    * [[ParquetTable]] write's hadoop conf verbatim
    * (`FileWrite.options.asCaseSensitiveMap` → `newHadoopConfWithOptions`). */
  private[catalog] def writeInfoWithTableOptions(info: LogicalWriteInfo): LogicalWriteInfo = {
    val merged = new java.util.HashMap[String, String](info.options().asCaseSensitiveMap())
    bloomColumns.foreach(c => merged.put(s"parquet.bloom.filter.enabled#$c", "true"))
    val opts = new CaseInsensitiveStringMap(merged)
    val stamped = FieldIds.restamp(meta.schema, info.schema())
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = opts
      override def queryId(): String = info.queryId()
      override def schema(): StructType = stamped
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    }
  }

  /** The same options as a plain map — for the maintenance rewrites
    * that go through the DataFrame writer (compact/cluster staging). */
  private[catalog] def bloomWriteOptions: Map[String, String] =
    bloomColumns.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  /** The declared cluster keys, reported as their v2 transforms
    * (what SHOW CREATE / DESCRIBE surface). */
  override def partitioning(): Array[Transform] =
    meta.clusterBy.map(ClusterSpec.toTransform).toArray

  private[catalog] def clusterCols: Seq[String] = meta.clusterBy

  /** The table's bucket layout, if clustered by a bucket transform —
    * the storage-partitioned-join contract (see Spj.scala). */
  private[catalog] def bucketLayout: Option[BucketLayout] =
    meta.clusterBy.flatMap(ClusterSpec.parseBucket).headOption

  /** Footer-stat file pruning PLUS static bucket-group pruning (r15):
    * point predicates on the bucket column hash their literals through
    * the write side's mixer and drop files recorded in other buckets —
    * the pruning a hash-scattered key actually has (min/max bound
    * nothing). Files without a recorded bucket id always stay
    * (conservative). Lossless like SkipEval: a dropped file PROVABLY
    * holds no matching row, so every prune consumer (read scans, COW
    * group scopes, MOR delta scopes) shares this. */
  private[catalog] def pruneFilesFor(schemaV: StructType, mf: Commit,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] = {
    val kept = SkipEval.prune(schemaV, mf.files, mf.stats, filters)
    bucketLayout.flatMap(bl =>
      GraftBucket.staticAllowedBuckets(filters, bl, schemaV)) match {
      case Some(allowed) => kept.filter(f =>
        mf.stats.get(f).flatMap(_.bucket).forall(allowed.contains))
      case None => kept
    }
  }

  /** Per-bucket file groups of `files` under `mf`, when EVERY file has a
    * recorded bucket id — the precondition for reporting
    * [[KeyGroupedPartitioning]]. Files carrying deletion vectors group
    * like any other (since r15): masking removes rows, never moves them
    * across buckets, so the scan serves those members through the
    * addressed/masked path per group (see SkippingScanBuilder). None →
    * ordinary scan (never wrong). */
  private[catalog] def spjGroupsOf(bl: BucketLayout, mf: Commit,
                                   files: Seq[String]): Option[Seq[(Int, Seq[String])]] = {
    val buckets = files.map(f => mf.stats.get(f).flatMap(_.bucket))
    if (buckets.exists(_.isEmpty)) None
    else Some(files.zip(buckets.map(_.get)).groupBy(_._2).toSeq
      .map { case (b, fs) => (b, fs.map(_._1)) }.sortBy(_._1))
  }

  /** The delegate parquet v2 table over an explicit file list — reads get
    * the vectorized reader + pushdown, writes get the hadoop commit
    * protocol. `schemaV` is the schema of the VERSION being read (the
    * current one on live scans) so an empty manifest still scans as the
    * right shape and time travel keeps its era's columns. */
  private def delegate(paths: Seq[String],
                       schemaV: StructType): ParquetTable =
    ParquetTable(tableName, spark, CaseInsensitiveStringMap.empty(), paths,
      Some(schemaV), classOf[ParquetFileFormat])

  /** Scans go through manifest data skipping: the pushed conjuncts are
    * evaluated against each file's footer stats ([[SkipEval]]) and the
    * delegate parquet builder sees only the surviving files — so a
    * selective `WHERE` on a sorted/clustered table plans a fraction of
    * the manifest before a single data byte is read, and the parquet
    * delegate still applies row-group pushdown within the kept files. */
  /** [[AddrSupport]] for one manifest: which files carry deletion
    * vectors and where each file's blob lives — what the addressed read
    * path needs, shipped as plain strings (the builder lives outside
    * this package). */
  private[catalog] def addrSupportFor(mf: Commit): AddrSupport =
    AddrSupport(
      isVectored = f => mf.dvs.contains(f),
      addrOf = f => (dir.resolve(f).toString,
        mf.dvs.get(f).map(d => dir.resolve(d.path).toString)),
      conf = new SerHadoopConf(spark.sessionState.newHadoopConf()))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = meta
    val mf = chainManifest(m, pinnedVersion.getOrElse(chainLatest(m)))
    val schemaV = m.schemaFor(mf) // the reading era's schema (time travel)
    // a renamed column's old files resolve ONLY by field id; a session
    // without the conf (graft's Sessions builder sets it; a foreign
    // session may not) would name-match and silently null-fill them —
    // refuse loudly instead (correctness over availability)
    if (FieldIds.renameVisible(m, schemaV) &&
        !spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false").toBoolean)
      throw new IllegalStateException(
        s"$tableName has renamed columns, whose pre-rename files resolve by parquet " +
          "field id; set spark.sql.parquet.fieldId.read.enabled=true on this session " +
          "(name matching would silently null-fill the renamed column)")
    new org.apache.spark.sql.graft.SkippingScanBuilder(
      filters => {
        val kept = pruneFilesFor(schemaV, mf, filters)
        SkipRecorder.record(tableName, kept.size, mf.files.size)
        kept
      },
      rel => delegate(rel.map(f => dir.resolve(f).toString), schemaV)
        .newScanBuilder(options),
      mf.files,
      // exact live rows of the kept set for the planner (manifest footer
      // counts minus deletion-vector tombstones); None when any kept file
      // predates stats collection — never guess. Equality tombstones make
      // the count an upper bound (key overlap is unknowable from
      // metadata), so they withhold it too.
      rowsOf = kept =>
        if (mf.eqs.isEmpty && kept.forall(mf.stats.contains))
          Some(kept.map(f => mf.stats(f).rows).sum -
            kept.flatMap(mf.dvs.get).map(_.rows).sum)
        else None,
      // on-disk bytes of the kept files (driver-side metadata stat, one
      // call per file at plan time) — the masked/split path can't forward
      // a delegate's estimate because its clean delegate sees only the
      // unvectored subset
      bytesOf = kept => scala.util.Try(
        kept.map(f => Files.size(dir.resolve(f))).sum).toOption,
      // per-column CBO statistics: free manifest bounds/null-counts plus
      // CALL system.analyze's persisted NDV/length stats
      colStatsOf = kept => TableColumnStats.forScan(
        schemaV, kept, mf.stats, mf.dvs.nonEmpty, m.props),
      mkStream = _ => {
        require(pinnedVersion.isEmpty,
          s"$tableName is a time-travel view; stream the live table and bound it yourself")
        require(branch.isEmpty,
          s"$tableName is a WAP branch view; stream the base table (branches are short-lived staging)")
        require(mf.eqs.isEmpty,
          s"$tableName has live equality-delete tombstones, which the streaming " +
            "source cannot mask; CALL system.compact to materialize them first")
        new GraftMicroBatchStream(this,
          Option(options.get("max_versions_per_trigger")).map(_.toInt))
      },
      fileColShadowed = schemaV.fieldNames.contains(FileTag.Col),
      posColShadowed = schemaV.fieldNames.contains(Dv.PosCol),
      addr = Some(addrSupportFor(mf)),
      // storage-partitioned joins: group the pruned set by recorded
      // bucket id so the scan can report KeyGroupedPartitioning
      spjOf = files => bucketLayout.flatMap(bl =>
        spjGroupsOf(bl, mf, files).map(gs => (bl, gs))),
      // runtime bucket-GROUP pruning (r15): the bucket key's type in the
      // reading era's schema; absent (e.g. a pre-rename era) disables it
      spjKeyType = bucketLayout.flatMap(bl =>
        schemaV.fields.find(_.name.equalsIgnoreCase(bl.column)).map(_.dataType)),
      spjPruneRecord = (kept, total) =>
        SkipRecorder.record(s"$tableName#bucketdpp", kept, total),
      // runtime (DPP-style) skipping on the cluster columns: identity
      // keys and time-transform BASE columns, where the layout makes
      // per-file bounds tight (bucket hashes can never bound — excluded)
      dppCols = m.clusterBy.map(ClusterSpec.parse).collect {
        case (col, None) => col
        case (col, Some(u)) if ClusterSpec.TimeUnits.contains(u) => col
      }.filter(c => schemaV.fieldNames.exists(_.equalsIgnoreCase(c))),
      runtimePrune = (cur, preds) => {
        val es = preds.toSeq.flatMap(p => V2Preds.toCatalyst(p, schemaV))
        if (es.isEmpty) cur
        else {
          val kept = SkipEval.prune(schemaV, cur, mf.stats, es)
          SkipRecorder.record(s"$tableName#dpp", kept.size, mf.files.size)
          kept
        }
      },
      // COUNT(*)/COUNT(col)/MIN/MAX answered FROM the manifest when
      // provable (AggPush's rules) — the scan becomes a LocalScan, zero
      // files read; the recorder entry is the harness's scanless verdict.
      // Live equality tombstones make every fold unprovable (masked-key
      // overlap is not in the metadata) — refuse outright.
      aggFold = (agg, kept) =>
        if (mf.eqs.nonEmpty) None
        else AggPush.fold(agg, schemaV, kept, mf.stats, mf.dvs)
          .map { r => SkipRecorder.record(s"$tableName#agg", 0, mf.files.size); r },
      // a bare LIMIT k scans a manifest PREFIX covering k live rows
      // (footer counts net of DV tombstones); None when any kept file
      // predates stats — never guess. Equality tombstones make per-file
      // live counts upper bounds, so the prefix could under-cover —
      // refuse while any are live.
      limitPrune = (kept, limit) =>
        if (mf.eqs.nonEmpty || !kept.forall(mf.stats.contains)) None
        else {
          var acc = 0L
          val out = Seq.newBuilder[String]
          var n = 0
          val it = kept.iterator
          while (acc < limit && it.hasNext) {
            val f = it.next(); out += f; n += 1
            acc += math.max(0L,
              mf.stats(f).rows - mf.dvs.get(f).map(_.rows).getOrElse(0L))
          }
          SkipRecorder.record(s"$tableName#limit", n, kept.size)
          Some(out.result())
        },
      // equality-delete masking (r16): per kept file, the tombstone
      // blobs that apply under the strictly-older sequence rule; the
      // builder routes affected files through the eq-masked read path
      eqOf = kept =>
        if (mf.eqs.isEmpty) Nil
        else kept.flatMap { f =>
          val blobs = Eq.applicableBlobs(dir, mf, f)
          if (blobs.isEmpty) None else Some(f -> blobs)
        },
      eqKeyField = mf.eqs.headOption.map { e =>
        schemaV.fields.find(_.name.equalsIgnoreCase(e.keyCol)).getOrElse(
          throw new IllegalStateException(
            s"$tableName: equality-delete key '${e.keyCol}' missing from the reading " +
              s"era's schema (${schemaV.fieldNames.mkString(", ")})"))
      },
      // bucketed tables: the reader scopes each file's tombstone keys
      // to the file's own bucket group (sound only when the eq KEY is
      // the bucket column — keys of other buckets cannot appear in it)
      eqBucketOf = f =>
        bucketLayout.filter(bl => mf.eqs.forall(_.keyCol.equalsIgnoreCase(bl.column)))
          .flatMap(bl => mf.stats.get(f).flatMap(_.bucket).map(b => (bl.numBuckets, b))),
      // conjuncts on reused-name columns never reach the parquet
      // delegate (FieldIds.reusedNames — parquet row-group filters match
      // by NAME and an old file's retired column would answer for the
      // new one); manifest pruning above is id-keyed and unaffected
      delegateSafe = {
        val reused = FieldIds.reusedNames(m, schemaV)
        if (reused.isEmpty) identity
        else (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          es.filterNot(_.references.exists(a =>
            reused.contains(a.name.toLowerCase(java.util.Locale.ROOT))))
      })
  }

  /** A bare delegate parquet Scan over an explicit file subset — the
    * streaming source plans each version-delta through this (full table
    * schema, no pushdown; Spark filters above the scan). Files carrying
    * a deletion vector in `dvs` are served through the addressed/masked
    * path instead, so an opening snapshot of a MOR table never re-emits
    * tombstoned rows. */
  private[catalog] def delegateScanOver(relFiles: Seq[String],
                                        dvs: Map[String, DvRef] = Map.empty,
                                        schemaPin: Option[StructType] = None)
      : org.apache.spark.sql.connector.read.Scan = {
    // `schemaPin` (r15): the STREAM's opening schema. A running stream's
    // plan binds the scan output positionally at analysis time, so a
    // backlog batch planned after a mid-stream ALTER must still read
    // under the schema the plan was analyzed with — reading under the
    // CURRENT schema would silently reinterpret columns (e.g. LONG rows
    // flowing into an INT-typed plan after a widen). Old-era files under
    // the pinned schema up-cast/resolve by field id as usual.
    val schemaV = schemaPin.getOrElse(meta.schema)
    val clean = delegate(relFiles.filterNot(dvs.contains).map(f => dir.resolve(f).toString),
        schemaV)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    if (vectoredOf(relFiles, dvs).isEmpty) clean
    else {
      val vectored = vectoredOf(relFiles, dvs)
      val a = AddrSupport(
        isVectored = dvs.contains,
        addrOf = f => (dir.resolve(f).toString, dvs.get(f).map(d => dir.resolve(d.path).toString)),
        conf = new SerHadoopConf(spark.sessionState.newHadoopConf()))
      val addressed = new AddressedScan(() => vectored,
        files => delegate(files.map(f => dir.resolve(f).toString), schemaV)
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build(),
        schemaV,
        wantFile = false, wantPos = false, a.addrOf, a.conf)
      new SplitScan(clean, addressed, schemaV, _ => throw new UnsupportedOperationException(
        s"$tableName: masked snapshot scans are batch-planned per micro-batch"))
    }
  }

  private def vectoredOf(relFiles: Seq[String], dvs: Map[String, DvRef]): Seq[String] =
    relFiles.filter(dvs.contains)

  /** Column-pruned, filter-free delegate scan over explicit files — the
    * building block of every addressed (position-stable) read. */
  private[catalog] def bareDelegateScan(relFiles: Seq[String], dataSchema: StructType)
      : org.apache.spark.sql.connector.read.Scan = {
    val b = delegate(relFiles.map(f => dir.resolve(f).toString), meta.schema)
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    b match {
      case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        c.pruneColumns(dataSchema)
      case _ => ()
    }
    b.build()
  }

  /** The chain manifest at version `v` (branch-aware). */
  private[catalog] def manifestAt(v: Int): Commit = chainManifest(meta, v)

  /** Commit one MOR row delta (see [[MorRowLevelOperation]]): merge each
    * touched file's new delete positions with its existing vector into a
    * NEW immutable blob, append the insert files, REPLACE-conflict
    * against the scan-time version. */
  private[catalog] def commitRowDelta(baseVersion: Int, newFiles: Seq[String],
                                      newStats: Map[String, FileStats],
                                      deletes: Map[String, Array[Long]]): Unit = {
    if (newFiles.isEmpty && deletes.isEmpty) return // a no-op verb commits nothing
    GraftTable.withCommitLock(dir) {
      val m = meta
      val mf = chainManifest(m, baseVersion) // throws if base expired meanwhile
      val conf = spark.sessionState.newHadoopConf()
      val dvUpdates = deletes.map { case (f, fresh) =>
        require(mf.files.contains(f),
          s"$tableName: MOR delete targets '$f' which is not in base manifest v$baseVersion")
        val old = mf.dvs.get(f).map(d =>
          Dv.read(new org.apache.hadoop.fs.Path(dir.resolve(d.path).toUri), conf))
          .getOrElse(Array.empty[Long])
        // the scan masks existing vectors, so a re-delete of an already-
        // tombstoned position can only be a positioning bug — fail loudly
        val oldSet = old.toSet
        fresh.foreach(p => require(!oldSet.contains(p),
          s"$tableName: position $p of '$f' is already deleted"))
        val mergedArr = (old ++ fresh).sorted
        val rel = s"data/dv-${UUID.randomUUID().toString.take(12)}.dv"
        Dv.write(new org.apache.hadoop.fs.Path(dir.resolve(rel).toUri), mergedArr, conf)
        f -> DvRef(rel, mergedArr.length.toLong)
      }
      // delta insert files carry their bucket id into the manifest like
      // every other commit (bucket-pure by the fanout writer), so the
      // MOR table keeps serving storage-partitioned joins
      commitVersion("rowdelta", baseVersion, newFiles, replace = true,
        newStats = withBucketIds(newStats), replacedFiles = Some(Nil),
        dvUpdates = dvUpdates)
    }
  }

  /** A delegate parquet Scan over materialized CDF files (ABSOLUTE
    * paths, CDF schema = table schema + change columns) — what the
    * change-feed streaming source ([[GraftCdfMicroBatchStream]]) plans
    * its micro-batches through. */
  private[catalog] def cdfScanOver(absFiles: Seq[String],
                                   cdfSchema: StructType): org.apache.spark.sql.connector.read.Scan =
    ParquetTable(s"$tableName.changes", spark, CaseInsensitiveStringMap.empty(),
      absFiles, Some(cdfSchema), classOf[ParquetFileFormat])
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()

  private[catalog] def currentMeta: TableMeta = meta

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName is a time-travel view; writes go to the live table")
    new GraftWriteBuilder(this, info, replaceManifest = false)
  }

  /** MERGE / UPDATE / DELETE: group-based copy-on-write at FILE
    * granularity. Spark pushes the verb's condition into the row-level
    * scan as a GROUP filter ("rewrite only groups containing a match") —
    * a delegate parquet scan would apply it per ROW and silently drop
    * every non-matching row of a rewritten group (smoke-tested: UPDATE
    * ... WHERE id <= 2 erased rows 3 and 4), so the condition is consumed
    * ONLY to shrink the file list via the manifest's footer stats
    * ([[SkipEval]]'s lossless contract) and stays in the plan for row
    * semantics. The kept set is recorded in the shared [[CowContext]];
    * the write's commit REPLACES exactly those files and inherits the
    * rest — rewrite cost ∝ files the condition can touch, never the
    * table. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // Equality tombstones (r16) are invisible to the row-level scans
    // (COW group scans and MOR delta scans read raw files), so a verb
    // here could resurrect masked rows into a rewrite — refuse loudly
    // until compaction materializes them.
    require(chainManifest(meta, chainLatest(meta)).eqs.isEmpty,
      s"$tableName has live equality-delete tombstones; ${info.command()} would " +
        "bypass them — CALL system.compact to materialize them first (keyed " +
        "churn goes through CALL system.eq_upsert)")
    // merge-on-read needs BOTH row-id metadata columns resolvable; a
    // schema owning either name shadows them, so such tables stay on the
    // always-correct COW path (documented in MorSpec)
    val morEligible = rowLevelMode == GraftTable.MergeOnRead &&
      !meta.schema.fieldNames.contains(FileTag.Col) &&
      !meta.schema.fieldNames.contains(Dv.PosCol)
    if (morEligible) { () =>
      require(pinnedVersion.isEmpty,
        s"$tableName is a time-travel view; ${info.command()} goes to the live table")
      new MorRowLevelOperation(this, info)
    }
    else cowRowLevelOperationBuilder(info)
  }

  private def cowRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation {
      private val ctx = new CowContext
      override def command(): RowLevelOperation.Command = info.command()
      /** Declaring `_file` makes Spark (a) thread it through the
        * ReplaceData relation so the row-level scan produces it, and
        * (b) apply RowLevelOperationRuntimeGroupFiltering: a runtime
        * subquery narrows the rewrite's file group to files that
        * actually HOLD matching rows — the only pruning that works for
        * MERGE's source-dependent condition. Skipped when the schema
        * shadows the name (metadata resolution would fail). */
      override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        if (meta.schema.fieldNames.contains(FileTag.Col)) Array.empty
        else Array(org.apache.spark.sql.connector.expressions.Expressions.column(FileTag.Col))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val m = meta
        val latest = chainLatest(m)
        val mf = chainManifest(m, latest)
        // defaults cover a scan that never sees pushFilters/build (e.g. a
        // condition Spark can't push): whole-manifest rewrite, exact
        ctx.baseVersion = latest
        ctx.replaced = mf.files
        new org.apache.spark.sql.graft.CowGroupScanBuilder(
          filters => pruneFilesFor(m.schema, mf, filters),
          rel => delegate(rel.map(f => dir.resolve(f).toString), m.schema)
            .newScanBuilder(options),
          mf.files,
          kept => {
            ctx.replaced = kept
            SkipRecorder.record(s"$tableName#cow", kept.size, mf.files.size)
          },
          fileColShadowed = m.schema.fieldNames.contains(FileTag.Col),
          addr = Some(addrSupportFor(mf)))
      }
      override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder = {
        require(pinnedVersion.isEmpty,
          s"$tableName is a time-travel view; ${info.command()} goes to the live table")
        new GraftWriteBuilder(GraftTable.this, writeInfo, replaceManifest = true,
          cow = Some(ctx))
      }
      override def description(): String = s"graft COW ${info.command()}"
    }

  // ---- commit machinery shared with GraftWriteBuilder ----

  private[catalog] def commitDirFor(queryId: String): Path =
    dir.resolve("data").resolve(s"c-${UUID.randomUUID().toString.take(12)}")

  /** Swap in the next manifest. Append commits REBASE: the data files
    * are new and disjoint, so the commit inherits whatever the latest
    * manifest is AT COMMIT TIME (a racing appender serializes behind the
    * lock and neither's files are lost). Replace commits (truncate and
    * every COW rewrite) must instead FAIL on a race — their file list was
    * computed against `baseLatest`'s snapshot, and publishing it over a
    * newer version would silently undo the other writer. A replace with
    * `replacedFiles = Some(fs)` is FILE-GRANULAR: only `fs` leave the
    * manifest (the row-level scan's kept groups); every other previous
    * file is inherited with its stats — `None` replaces everything
    * (INSERT OVERWRITE, compaction). When `streamEpoch` is set, a
    * (queryId, epochId) at or below the table's recorded high-water mark
    * for that query means the commit is a REPLAY — the manifest is left
    * untouched and `false` is returned so the caller can discard its
    * staged files: the sink-side half of Structured Streaming's
    * exactly-once contract. The mark lives in [[TableMeta.streamEpochs]],
    * INDEPENDENT of history retention, so `expire_versions` retiring the
    * epoch's commit can no longer re-admit a replay (ADVICE r12); epochs
    * of one query are sequential, so one high-water long per queryId is a
    * complete dedup record. Returns whether the commit landed. */
  private[catalog] def commitVersion(op: String, baseLatest: Int,
                                     newFiles: Seq[String], replace: Boolean,
                                     newStats: Map[String, FileStats] = Map.empty,
                                     streamEpoch: Option[(String, Long)] = None,
                                     dataChange: Boolean = true,
                                     replacedFiles: Option[Seq[String]] = None,
                                     dvUpdates: Map[String, DvRef] = Map.empty,
                                     eqAdd: Option[(String, String, Long)] = None): Boolean =
    GraftTable.withCommitLock(dir) {
      val m = meta
      val ch = chain(m)
      val replayed = streamEpoch.exists { case (qid, eid) =>
        m.streamEpochs.get(qid).exists(_ >= eid) || ch.exists(_.op == op)
      }
      if (replayed) false
      else {
        val latest = chainLatest(m)
        // branch replace conflicts are checked here under the (reentrant)
        // commit lock — TableMeta.write's expectedLatest guard only knows
        // the MAIN chain, so it is bypassed for branch commits
        if (branch.isDefined && replace && latest != baseLatest)
          throw new IllegalStateException(
            s"concurrent commit conflict on $tableName: expected latest v$baseLatest, found v$latest")
        val prev = chainManifest(m, latest)
        val inherited =
          if (!replace) prev.files
          else replacedFiles match {
            case Some(r) => val rs = r.toSet; prev.files.filterNot(rs)
            case None => Nil
          }
        // inherited files keep their stats AND their deletion vectors;
        // replaced/removed files' entries drop (a rewrite materializes
        // its DVs away), and a delta commit repoints touched entries
        val inheritedSet = inherited.toSet
        val inheritedStats = prev.stats.view.filterKeys(inheritedSet).toMap
        val inheritedDvs = prev.dvs.view.filterKeys(inheritedSet).toMap
        // equality tombstones: a FULL rewrite (replacedFiles = None —
        // INSERT OVERWRITE, compaction, truncate) reads masked and
        // materializes them away; everything else inherits them. While
        // any are in play, new files are stamped with their adding
        // version so the strictly-older sequence rule stays decidable.
        // The one-key-per-table rule is re-proved HERE, under the lock:
        // the procedure's pre-check races a concurrent upsert (append
        // commits merge without a conflict check), and a mixed-key
        // manifest would mask rows by the WRONG column's values.
        eqAdd.foreach { case (_, key, _) =>
          prev.eqs.foreach(e => require(e.keyCol.equalsIgnoreCase(key),
            s"$tableName: equality tombstones are keyed by '${e.keyCol}' but this " +
              s"upsert used key '$key' (a concurrent upsert won the race); rerun " +
              "with the table's key column"))
        }
        val inheritedEqs = if (replace && replacedFiles.isEmpty) Nil else prev.eqs
        val newEqs = inheritedEqs ++ eqAdd.map { case (path, key, rows) =>
          EqRef(path, key, rows, latest + 1) }.toSeq
        val newSeqs =
          if (newEqs.isEmpty) Map.empty[String, Int]
          else prev.fileSeqs.view.filterKeys(inheritedSet).toMap ++
            newFiles.map(_ -> (latest + 1))
        val next = Commit(latest + 1, System.currentTimeMillis(), op,
          inherited ++ newFiles, inheritedStats ++ newStats, dataChange,
          inheritedDvs ++ dvUpdates, schemaId = prev.schemaId,
          eqs = newEqs, fileSeqs = newSeqs)
        val withEpoch = streamEpoch.fold(m) { case (qid, eid) =>
          m.copy(streamEpochs = m.streamEpochs + (qid -> eid))
        }
        val updated = branch match {
          case Some(b) => withEpoch.copy(branches = m.branches + (b -> (ch :+ next)))
          case None => withEpoch.copy(history = m.history :+ next)
        }
        TableMeta.write(dir, updated,
          expectedLatest = if (branch.isEmpty && replace) Some(baseLatest) else None)
        true
      }
    }

  private[catalog] def currentLatest: Int = chainLatest(meta)
  private[catalog] def tableDirPath: Path = dir

  /** When this table's schema is id-stamped, commits must verify every
    * staged file carries field ids (FooterStats.collect's requireIdsAs —
    * one footer open serves stats AND the check). None for legacy
    * id-less tables. */
  private[catalog] def idRequirement: Option[String] =
    if (FieldIds.allStamped(meta.schema)) Some(tableName) else None

  /** Wrap a delegate writer factory with the per-bucket fanout when this
    * table is bucket-clustered — the write-side half of the
    * storage-partitioned-join contract (every data file bucket-pure). */
  private[catalog] def fanoutIfBucketed(factory: DataWriterFactory,
                                        writeSchema: StructType): DataWriterFactory =
    bucketLayout match {
      case Some(bl) =>
        val ord = writeSchema.fieldNames.indexWhere(_.equalsIgnoreCase(bl.column))
        require(ord >= 0,
          s"$tableName: bucket column '${bl.column}' missing from the write schema " +
            s"(${writeSchema.fieldNames.mkString(", ")})")
        BucketFanoutFactory(factory, bl.numBuckets, ord, writeSchema(ord).dataType)
      case None => factory
    }

  /** Stamp each committed file's bucket id (parsed back out of the
    * fanout writer's split-id file naming) into its manifest stats. */
  private[catalog] def withBucketIds(stats: Map[String, FileStats]): Map[String, FileStats] =
    bucketLayout match {
      case Some(bl) => stats.map { case (rel, fs) =>
        rel -> fs.copy(bucket = GraftBucket.bucketFromFileName(
          java.nio.file.Paths.get(rel).getFileName.toString, bl.numBuckets))
      }
      case None => stats
    }
}

private[catalog] object GraftTable {
  /** Per-table commit locks (JVM-wide — all sessions of one SparkContext
    * share the catalog state, like the staged-artifact latches). */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `body` holding table `dir`'s commit lock. The lock is a
    * reentrant monitor: [[TableMeta.write]] re-takes it while
    * `commitVersion`, `commitRowDelta` and the procedures hold it. */
  def withCommitLock[T](dir: Path)(body: => T): T =
    commitLocks.computeIfAbsent(dir.toAbsolutePath.toString, _ => new Object).synchronized(body)

  /** Table property selecting how MERGE/UPDATE/DELETE commit (Iceberg's
    * `write.delete.mode` family collapsed to one knob): `copy-on-write`
    * rewrites the touched files (read-optimized — scans stay plain
    * vectorized parquet), `merge-on-read` writes DELETION VECTORS and
    * appends (write-optimized — a one-row takedown writes a few-KB blob
    * at any table size; readers mask vectored files until OPTIMIZE
    * materializes). */
  val RowLevelModeProp = "write.row_level.mode"
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"
  val RowLevelModes: Set[String] = Set(CopyOnWrite, MergeOnRead)

  /** Comma-separated columns to write parquet bloom filters for (see
    * [[GraftTable.bloomColumns]]). */
  val BloomColumnsProp = "write.bloom.columns"

  private val fanoutProtocolLock = new Object

  /** Scope the bucket-fanout commit protocol (no driver commit
    * coordination — see [[org.apache.spark.sql.graft.GraftFanoutCommitProtocol]])
    * around a delegate write's toBatch, restoring the session conf
    * immediately. No-op for unbucketed tables. The set→plan→restore
    * window is serialized JVM-wide so two concurrent bucketed writes
    * can't restore the conf out from under each other (losing the
    * protocol crashes the synthetic-split commit); an UNBUCKETED write
    * planned inside someone else's window may harmlessly adopt the
    * fanout protocol — it behaves identically to stock minus the
    * speculative-attempt coordination. */
  def withFanoutProtocol[T](bucketed: Boolean)(f: => T): T =
    if (!bucketed) f
    else fanoutProtocolLock.synchronized {
      val ss = SparkSession.active
      // the fanout protocol's commitTask skips OutputCommitCoordinator
      // arbitration (synthetic per-bucket task ids overflow its per-stage
      // state) — with speculation on, duplicate attempts of one task
      // could BOTH commit (duplicate rows). Enforce the operational rule
      // instead of documenting it (ADVICE r14).
      require(!ss.sparkContext.getConf.getBoolean("spark.speculation", false),
        "bucketed-table writes require spark.speculation=false: the bucket-fanout " +
          "commit protocol has no speculative-attempt arbitration")
      val key = "spark.sql.sources.commitProtocolClass"
      val old = ss.conf.getOption(key)
      ss.conf.set(key,
        classOf[org.apache.spark.sql.graft.GraftFanoutCommitProtocol].getName)
      try f
      finally old match {
        case Some(v) => ss.conf.set(key, v)
        case None => ss.conf.unset(key)
      }
    }
}

/** Write builder: stages files into a fresh commit subdir via the
  * delegate parquet writer, then swaps the manifest on commit. `truncate`
  * (INSERT OVERWRITE) starts a fresh file list; a row-level replacement
  * (`cow` set) replaces only the files the operation's scan kept (file-
  * granular copy-on-write — see [[CowContext]]); plain build() appends. */
private[catalog] class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo,
                                         replaceManifest: Boolean,
                                         cow: Option[CowContext] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncate0 = replaceManifest

  override def truncate(): WriteBuilder = { truncate0 = true; this }

  /** On a clustered table (PARTITIONED BY identity columns) every write —
    * append, overwrite, COW rewrite, streaming epoch — declares a range
    * distribution + ascending sort on the cluster columns, so Catalyst
    * plans the shuffle/sort and each produced file covers a tight,
    * non-overlapping range: careless ingest still lands skippable. */
  override def build(): Write = {
    val base = buildBase()
    val cluster = table.clusterCols
    if (cluster.isEmpty) base
    else new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
      // time transforms sort on the DERIVED day/hour value — Catalyst
      // resolves them through the catalog's FunctionCatalog side
      private val orders: Array[SortOrder] = cluster.map(c =>
        Expressions.sort(ClusterSpec.toTransform(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
      override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions.ordered(orders)
      override def requiredOrdering(): Array[SortOrder] = orders
      // 0 = let Spark/AQE size the shuffle to the data — the cluster
      // posture; a fixed count would be the local-pin mistake at 100 TB
      override def requiredNumPartitions(): Int = 0
      override def toBatch: BatchWrite = base.toBatch
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        base.toStreaming
      override def description(): String = base.description()
    }
  }

  private def buildBase(): Write = new Write {
    /** `writeStream.toTable(...)`: append-mode micro-batches become
      * idempotent manifest commits (see [[GraftStreamingWrite]]). */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!replaceManifest, "row-level operations are batch-only")
      require(!truncate0,
        s"${table.name()}: streaming writes support append output mode only " +
          "(complete-mode truncation per epoch would race batch writers; " +
          "use foreachBatch + INSERT OVERWRITE for full-refresh shapes)")
      new GraftStreamingWrite(table, info)
    }

    override def toBatch: BatchWrite = {
      val commitDir = table.commitDirFor(info.queryId())
      // a row-level op commits against the version its SCAN planned on
      // (CowContext), so a commit that lands in between fails the
      // conflict check instead of publishing a stale rewrite
      val baseLatest = cow.map(_.baseVersion).filter(_ >= 0)
        .getOrElse(table.currentLatest)
      Files.createDirectories(commitDir)
      val inner = GraftTable.withFanoutProtocol(table.bucketLayout.isDefined) {
        org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
          table.name(), SparkSession.active,
          new CaseInsensitiveStringMap(java.util.Map.of("path", commitDir.toString)),
          Seq(commitDir.toString), Some(info.schema()),
          classOf[ParquetFileFormat])
          .newWriteBuilder(table.writeInfoWithTableOptions(info)).build().toBatch
      }
      new BatchWrite {
        override def createBatchWriterFactory(phyInfo: PhysicalWriteInfo): DataWriterFactory = {
          val factory = table.fanoutIfBucketed(
            inner.createBatchWriterFactory(phyInfo), info.schema())
          // Group-based ReplaceData plans prepend Catalyst's
          // __row_operation INT column to every row (RowDeltaUtils.
          // OPERATION_COLUMN; all rows carry WRITE/WRITE_WITH_METADATA —
          // this connector declares no delta support, so no row-level
          // verbs reach here). Which write task Spark picks depends on
          // requiredMetadataAttributes: with `_file` declared (the
          // normal case since round 13) the metadata-projecting task
          // applies ReplaceDataProjections.rowProjection and rows arrive
          // already shaped to the write schema; with the attr shadowed
          // (a table owning a `_file` data column) the plain
          // DataWritingSparkTask skips the projection and the extra
          // column reaches the writer. The wrapper's field-count check
          // handles both shapes.
          if (replaceManifest)
            OperationColumnStrippingFactory(factory, info.schema())
          else factory
        }
        // the hadoop FileCommitProtocol owns task-commit arbitration; a
        // second authorization from Spark's coordinator double-books the
        // attempt ids and denies every task (smoke-tested) — delegate.
        override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
        override def onDataWriterCommit(message: WriterCommitMessage): Unit =
          inner.onDataWriterCommit(message)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          inner.commit(messages)
          val s = Files.list(commitDir)
          val abs = try s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          finally s.close()
          val files = abs.map(p => table.tableDirPath.relativize(p).toString)
          // footer-only stats for the commit's files — the data-skipping
          // manifest entries (cost ∝ files in THIS commit, never the
          // table) — plus the field-id presence check on the same footer.
          // The schema is RE-STAMPED with the table's field ids (Spark's
          // write plan strips column metadata from info.schema()): stats
          // are keyed by field id (FieldIds.statKey), so an id-less
          // collect would key by name and every id-keyed lookup would
          // miss — pruning silently dead (r16).
          val stats = table.withBucketIds(FooterStats.collect(table.tableDirPath, abs,
            FieldIds.restamp(table.schema(), info.schema()),
            SparkSession.active.sessionState.newHadoopConf(),
            requireIdsAs = table.idRequirement))
          val op = if (replaceManifest) "replace" else if (truncate0) "overwrite" else "append"
          table.commitVersion(op, baseLatest, files, replace = truncate0, newStats = stats,
            replacedFiles = if (replaceManifest) cow.map(_.replaced) else None)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          inner.abort(messages)
      }
    }
  }
}

/** A streaming OFFSET for catalog tables: "consumed through manifest
  * version v". `openingSnapshot = true` is the pre-consumption marker a
  * fresh stream starts from — version v's FULL manifest is still owed to
  * the consumer (then the tail proceeds from v). */
private[catalog] case class GraftVersionOffset(v: Int, openingSnapshot: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = if (openingSnapshot) s"snap:$v" else v.toString
}

private[catalog] object GraftVersionOffset {
  def parse(json: String): GraftVersionOffset = {
    val s = json.trim
    if (s.startsWith("snap:")) GraftVersionOffset(s.stripPrefix("snap:").toInt, true)
    else GraftVersionOffset(s.toInt)
  }
}

/** The catalog table as a STREAMING SOURCE — `readStream.table(
  * graft_cat.…)` tails the version chain: each manifest version is an
  * offset, and a micro-batch reads exactly the files ADDED by the
  * data-changing commits in `(start, end]` (new files = the commit's
  * manifest minus its parent's — appends inherit, so the delta is the
  * commit's own files). Three history shapes, three behaviors:
  *
  *  - APPEND commits (INSERT INTO, stream epochs): their new files are
  *    the batch. The parent-subset check proves append-ness structurally
  *    instead of trusting op strings.
  *  - `dataChange = false` commits (compact/cluster): SKIPPED — rows
  *    moved, none changed; OPTIMIZE stays invisible to downstream
  *    streams (Delta/Iceberg's flag, same semantics).
  *  - REWRITES (COW UPDATE/DELETE/MERGE, INSERT OVERWRITE): the stream
  *    FAILS with the version number — an incremental reader cannot
  *    reconstruct row-level changes from a file-level rewrite, and
  *    silently re-emitting the table would duplicate everything
  *    downstream. (CDC would need row-level delete vectors in the
  *    manifest; scoped out as Delta does with its CDF option.)
  *
  * A fresh stream OPENS WITH THE CURRENT SNAPSHOT (the latest manifest,
  * marked in the initial offset) and tails from there — so history
  * before the stream's birth, rewrites included, is irrelevant to it
  * (Delta's default starting-version semantics). A checkpointed offset
  * whose manifest `expire_versions` has since retired fails loudly
  * instead of re-snapshotting (which would duplicate consumed rows).
  * The reader factory delegates to the parquet source once — partition
  * plans vary per batch, the factory does not. At 100 TB the tail cost
  * per trigger is ∝ the NEW files since the last trigger, never the
  * table.
  *
  * Admission control: `option("max_versions_per_trigger", k)` caps each
  * micro-batch at k manifest versions past the checkpointed offset — the
  * Kafka `maxOffsetsPerTrigger` knob re-expressed in versions, so a
  * consumer restarting after downtime drains a long backlog in bounded
  * batches instead of one giant catch-up. */
private[catalog] class GraftMicroBatchStream(table: GraftTable,
                                             maxVersionsPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  maxVersionsPerTrigger.foreach(k =>
    require(k >= 1, s"max_versions_per_trigger must be >= 1, got $k"))

  /** The schema ERA this stream opened under (r15): the streaming plan
    * binds the scan's output at analysis time, so every batch is planned
    * against this schema (see delegateScanOver's schemaPin), OLD-era
    * backlog included (old files up-cast/resolve by field id under it).
    * A commit from a NEWER era — a rename/drop/widen landed while the
    * stream was running — fails loudly instead of silently null-filling
    * or reinterpreting columns; a RESTART re-analyzes under the new
    * schema and drains the backlog correctly (Delta's behavior). */
  private val openingMeta = table.currentMeta
  private val openingSchemaId: Int = openingMeta.currentSchemaId
  private val openingSchema: StructType = openingMeta.schema

  /** Trigger.AvailableNow target: the latest version captured at query
    * start — the run drains THROUGH it (in bounded per-trigger steps
    * when admission-controlled) and then stops, ignoring later commits. */
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.currentMeta.latest)

  override def initialOffset(): Offset =
    GraftVersionOffset(table.currentMeta.latest, openingSnapshot = true)
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
    if (end == s.v && !s.openingSnapshot) s // nothing new: same offset, no batch
    else GraftVersionOffset(end)
  }
  override def deserializeOffset(json: String): Offset = GraftVersionOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def expired(v: Int): Nothing = throw new IllegalStateException(
    s"${table.name()}: checkpointed offset v$v was expired by snapshot retention; " +
      "start a fresh stream (it will open with the current snapshot)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset]
    val e = end.asInstanceOf[GraftVersionOffset].v
    val m = table.currentMeta
    val openingCommit =
      if (!s.openingSnapshot) None
      else Some(m.history.find(_.version == s.v).getOrElse(expired(s.v)))
    val deltas = m.history.filter(c => c.version > s.v && c.version <= e)
      .sortBy(_.version).flatMap { c =>
        if (!c.dataChange) Nil // layout-only: rows already emitted
        else if (c.schemaId > openingSchemaId)
          throw new IllegalStateException(
            s"${table.name()}: version ${c.version} was committed under schema id " +
              s"${c.schemaId}, newer than this stream's opening schema id " +
              s"$openingSchemaId (a rename/drop/type change landed mid-stream); " +
              "restart the stream to adopt the new schema — the checkpoint replays " +
              "from here and old-era files resolve by field id")
        else {
          val prev = m.history.find(_.version == c.version - 1)
            .getOrElse(expired(c.version - 1))
          val prevSet = prev.files.toSet
          // an equality-delete commit (r16) deletes rows of FILES ALREADY
          // EMITTED via its tombstone — invisible to a pure-append tail,
          // so the downstream would keep both the stale and new image of
          // every upserted key; refuse like any other rewrite
          if (!prevSet.subsetOf(c.files.toSet) || c.dvs != prev.dvs ||
              c.eqs != prev.eqs)
            throw new UnsupportedOperationException(
              s"${table.name()}: version ${c.version} (${c.op}) rewrote files, " +
                "deletion vectors, or equality tombstones; this source re-emits whole " +
                "files, so it supports append-only history (compactions are skipped " +
                "via dataChange=false). For row-level deltas across rewrites, stream " +
                s"the change feed: readStream.table(\"${table.name()}.changes\") — or " +
                "restart this stream from the current snapshot")
          c.files.filterNot(prevSet)
        }
      }
    // the opening snapshot may carry deletion vectors (a MOR table's
    // live state): vectored files plan through the addressed/masked
    // path; clean opening files and all delta files (whose commits are
    // proven vector-free above) stay on the plain delegate
    val openingDvs = openingCommit.map(_.dvs).getOrElse(Map.empty)
    val openingFiles = openingCommit.map(_.files).getOrElse(Nil)
    val plainFiles = openingFiles.filterNot(openingDvs.contains) ++ deltas
    val plain =
      if (plainFiles.isEmpty) Array.empty[InputPartition]
      else table.delegateScanOver(plainFiles, schemaPin = Some(openingSchema))
        .toBatch.planInputPartitions()
    val masked = openingFiles.filter(openingDvs.contains).flatMap { f =>
      val (abs, blob) = (table.tableDirPath.resolve(f).toString,
        openingDvs.get(f).map(d => table.tableDirPath.resolve(d.path).toString))
      table.delegateScanOver(Seq(f), schemaPin = Some(openingSchema))
        .toBatch.planInputPartitions()
        .map(p => AddrPartition(p, f, abs, blob))
    }
    // Spark refuses mixed row/columnar partitions WITHIN a batch, and
    // masked readers are row-only — so a batch containing any masked
    // partition wraps EVERY partition in the row-based SplitPartition
    // shape. Vector-free batches (every batch after the opening, and
    // every batch of a COW table) stay raw and fully vectorized.
    if (masked.isEmpty) plain
    else plain.map(p => SplitPartition(p, addressed = false): InputPartition) ++
      masked.map(p => SplitPartition(p, addressed = true): InputPartition)
  }

  /** One partition-agnostic parquet factory serves every batch; opening-
    * snapshot partitions of vectored files arrive as [[AddrPartition]]s
    * and are routed through the masking reader. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val pf = table.delegateScanOver(Nil, schemaPin = Some(openingSchema))
      .toBatch.createReaderFactory()
    val masked = AddrReaderFactory(pf,
      new SerHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      wantFile = false, wantPos = false)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
        p match {
          case sp: SplitPartition =>
            if (sp.addressed) masked.createReader(sp.inner) else pf.createReader(sp.inner)
          case other => pf.createReader(other)
        }
      override def createColumnarReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
        p match {
          case sp: SplitPartition =>
            if (sp.addressed) masked.createColumnarReader(sp.inner)
            else pf.createColumnarReader(sp.inner)
          case other => pf.createColumnarReader(other)
        }
      // the masked factory serves columnar batches too (r14), so both
      // routes report the delegate's verdict — uniform by construction
      override def supportColumnarReads(p: InputPartition): Boolean = p match {
        case sp: SplitPartition =>
          if (sp.addressed) masked.supportColumnarReads(sp.inner)
          else pf.supportColumnarReads(sp.inner)
        case other => pf.supportColumnarReads(other)
      }
    }
  }
}

/** Structured Streaming sink: each micro-batch (epoch) is one APPEND
  * manifest commit, made EXACTLY-ONCE by keying the commit on
  * `(queryId, epochId)` — Spark's documented sink-dedup contract. The
  * failure mode this closes: Spark persists a batch's offsets, writes
  * the sink data, then dies before its own commit log — on restart it
  * re-runs that epoch, and without the key the table would hold every
  * replayed row twice. Here the replayed epoch's manifest commit is
  * refused by [[GraftTable.commitVersion]]'s history check and its
  * staged files are deleted, so `readStream → toTable(graft_cat...)`
  * restart-replays to the same table content (spec-pinned by killing a
  * query between sink write and checkpoint commit is not deterministically
  * forceable, so the spec replays an epoch through the API instead).
  *
  * Mechanics: `createStreamingWriterFactory` is called once per epoch
  * (from `MicroBatchWrite`), strictly before that epoch's
  * `commit`/`abort` and never concurrently with another epoch — micro-
  * batches of one query are sequential — so a single pending slot carries
  * the per-epoch delegate parquet writer and its staging dir from
  * factory-creation to commit. Writers delegate to the same batch parquet
  * factory as batch writes (hadoop commit protocol arbitrates task
  * retries; no commit coordinator, same as [[FileBatchWrite]]). */
private[catalog] class GraftStreamingWrite(table: GraftTable, info: LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private case class Pending(commitDir: Path, inner: BatchWrite)
  private val pending = new java.util.concurrent.atomic.AtomicReference[Pending]()

  override def createStreamingWriterFactory(phyInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val commitDir = table.commitDirFor(info.queryId())
    Files.createDirectories(commitDir)
    val inner = GraftTable.withFanoutProtocol(table.bucketLayout.isDefined) {
      ParquetTable(table.name(), SparkSession.active,
        new CaseInsensitiveStringMap(java.util.Map.of("path", commitDir.toString)),
        Seq(commitDir.toString), Some(info.schema()), classOf[ParquetFileFormat])
        .newWriteBuilder(table.writeInfoWithTableOptions(info)).build().toBatch
    }
    require(pending.compareAndSet(null, Pending(commitDir, inner)),
      s"${table.name()}: overlapping streaming epochs (a second writer factory " +
        "was requested before the previous epoch committed or aborted)")
    val factory = table.fanoutIfBucketed(inner.createBatchWriterFactory(phyInfo),
      info.schema())
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
        factory.createWriter(partitionId, taskId)
    }
  }

  // hadoop FileCommitProtocol owns task-commit arbitration (same contract
  // as the batch path; FileBatchWrite also returns false)
  override def useCommitCoordinator(): Boolean = false

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = pending.getAndSet(null)
    require(p != null, s"${table.name()}: commit($epochId) with no staged epoch")
    p.inner.commit(messages)
    val s = Files.list(p.commitDir)
    val abs = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
    if (abs.isEmpty) {
      // empty epoch: nothing to publish, no manifest entry to record —
      // a replayed empty epoch re-appends nothing either way
      graft.Artifacts.deleteTree(p.commitDir)
    } else {
      val files = abs.map(f => table.tableDirPath.relativize(f).toString)
      // re-stamped for id-keyed stats, same reason as the batch path
      val stats = table.withBucketIds(FooterStats.collect(table.tableDirPath, abs,
        FieldIds.restamp(table.schema(), info.schema()),
        SparkSession.active.sessionState.newHadoopConf(),
        requireIdsAs = table.idRequirement))
      val committed = table.commitVersion(
        s"stream-epoch:${info.queryId()}:$epochId", table.currentLatest,
        files, replace = false, newStats = stats,
        streamEpoch = Some((info.queryId(), epochId)))
      if (!committed) {
        // replayed epoch — the original commit already published this
        // data; discard the replica (the whole staged dir: parquet,
        // _SUCCESS marker, checksums)
        graft.Artifacts.deleteTree(p.commitDir)
      }
    }
  }


  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = pending.getAndSet(null)
    if (p != null) p.inner.abort(messages)
  }
}

/** Strips the leading `__row_operation` column off ReplaceData rows
  * before they reach the parquet writer (see the comment at the use
  * site). The projection reuses Catalyst's [[ProjectingInternalRow]]
  * (one mutable view per writer, no per-row allocation) mapping write
  * ordinal i -> incoming ordinal i + 1. Rows that already match the
  * write schema pass through untouched, so the wrapper is shape-safe if
  * a future Spark version starts applying rowProjection itself. */
private[catalog] case class OperationColumnStrippingFactory(
    inner: DataWriterFactory, writeSchema: StructType) extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val delegate = inner.createWriter(partitionId, taskId)
    val n = writeSchema.length
    val view = ProjectingInternalRow(writeSchema, (1 to n).toIndexedSeq)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit =
        if (row.numFields == n + 1) { view.project(row); delegate.write(view) }
        else delegate.write(row)
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}
