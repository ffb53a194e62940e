package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Change-data-feed over the snapshot-versioned catalog: row-level
  * changes between two versions, RECONSTRUCTED from the copy-on-write
  * manifests — no change files are ever written at commit time (writes
  * stay one manifest swap), the feed is derived on demand at a cost
  * proportional to the files a commit TOUCHED, never to table size.
  *
  * Per data-changing commit `v` the manifest diff against its parent
  * gives `added = files(v) \ files(v-1)` and `removed = files(v-1) \
  * files(v)` (set difference is exact because data files are immutable
  * and never reused across commits). The row-level delta is then the
  * multiset difference over just those files:
  *
  *  - inserts   = rows(added)  EXCEPT ALL rows(removed)
  *  - deletes   = rows(removed) EXCEPT ALL rows(added)
  *
  * COW rewrites copy every untouched row of a rewritten file verbatim,
  * so copies cancel in the multiset diff and only NET changes surface —
  * an UPDATE that set a column to the value it already had is correctly
  * silent, exactly like Delta's CDF on a no-op merge. With `keyCols`
  * (a primary key, unique per snapshot) the two sides are paired into
  * `update_preimage`/`update_postimage` rows; without, changes stay
  * `insert`/`delete` pairs. Compaction/clustering commits carry
  * `dataChange = false` and contribute nothing, so OPTIMIZE is as
  * invisible here as it is to the streaming source.
  *
  * At 100 TB this is the cheap direction for CDC-on-demand: a day's
  * feed reads yesterday's churn (the touched files), not the table.
  * The EXCEPT ALL per commit shuffles only that churn; the per-commit
  * plans union, so a bounded version window (the normal CDC call
  * pattern) stays a bounded plan.
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Row-level changes committed in versions `[fromVersion, toVersion]`
    * of `table` (fully qualified `catalog.ns.name`, or a WAP branch via
    * the `catalog.ns.name.branch_<b>` suffix — the pre-publish audit
    * reads "what would this publish change?" as the branch chain's feed
    * from the fork), oldest first. Output schema: the table's columns
    * plus `_change_type` (insert / delete / update_preimage /
    * update_postimage) and `_commit_version`. Requires every parent
    * manifest `v-1` in range to still exist — expired versions refuse
    * loudly rather than mis-reporting a diff.
    */
  def tableChanges(ss: SparkSession, table: String, fromVersion: Int,
                   toVersion: Int, keyCols: Seq[String] = Nil): DataFrame = {
    val parts = table.split('.')
    val branch = Option(parts.last).filter(_.startsWith("branch_")).map(_.stripPrefix("branch_"))
    val tableParts = if (branch.isDefined) parts.tail.dropRight(1) else parts.tail
    // resolved through the SESSION's catalog conf, not CatalogManager,
    // so a feed requested from a pool thread sees the right session
    val dir = Manifests.tableDir(ss, (parts.head +: tableParts).mkString("."))
    val meta = TableMeta.read(dir)
    val chain = branch match {
      case Some(b) => meta.branches.getOrElse(b, throw new IllegalArgumentException(
        s"no branch '$b' on ${tableParts.mkString(".")} " +
          s"(have: ${meta.branches.keys.toSeq.sorted.mkString(", ")})"))
      case None => meta.history
    }
    val chainLatest = chain.map(_.version).max
    require(fromVersion <= toVersion,
      s"from_version $fromVersion > to_version $toVersion")
    require(toVersion <= chainLatest,
      s"to_version $toVersion beyond latest $chainLatest")
    keyCols.foreach(k => require(meta.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"key column '$k' is not in ${meta.schema.fieldNames.mkString(", ")}"))
    def manifestOf(v: Int): Commit = chain.find(_.version == v).getOrElse(
      throw new IllegalArgumentException(s"no version $v on '$table'"))

    val perVersion = (math.max(fromVersion, 1) to toVersion).flatMap(v =>
      changesOfCommit(ss, dir, meta, chain, v, keyCols))

    val base = withChangeSchema(emptySnapshot(ss, meta), lit(null).cast("string"), lit(0))
      .limit(0)
    perVersion.foldLeft(base)(_.unionAll(_))
  }

  /** The row-level changes of ONE commit (`None` when the commit changed
    * nothing row-wise: `dataChange = false` layout rewrites, or an empty
    * manifest diff) — the unit the batch feed unions over and the
    * STREAMING feed ([[GraftCdfMicroBatchStream]]) materializes per
    * version. Requires the parent manifest to still exist. */
  private[catalog] def changesOfCommit(ss: SparkSession, dir: Path, meta: TableMeta,
                                       chain: Seq[Commit], v: Int,
                                       keyCols: Seq[String]): Option[DataFrame] = {
    val commit = chain.find(_.version == v).getOrElse(
      throw new IllegalArgumentException(s"no version $v in chain"))
    if (!commit.dataChange) None
    else {
      require(chain.exists(_.version == v - 1),
        s"parent version ${v - 1} of $v was expired; its change feed is unreconstructable")
      val parent = chain.find(_.version == v - 1).get
      // an equality-delete commit (r16) tombstones by KEY VALUE, not by
      // file or position — its row-level delta would need a corpus-side
      // key lookup this feed is designed to avoid; refuse any commit
      // whose tombstone set CHANGED (added by an upsert, or dropped by
      // a dataChange=true rewrite) — the compacted commit itself is
      // dataChange=false and never reaches this check
      require(commit.eqs == parent.eqs,
        s"version $v (${commit.op}) changed the equality-delete tombstone set; " +
          "its row-level change feed is not reconstructable from file diffs — " +
          "CALL system.compact, then feed from commits after the materialization")
      val cur = commit.files.toSet
      val prev = parent.files.toSet
      val added = commit.files.filterNot(prev)
      val removed = parent.files.filterNot(cur)
      // DELETION-VECTOR growth on files present in both manifests: the
      // newly tombstoned positions are this commit's row-level deletes
      // (a MOR DELETE/UPDATE/MERGE — op `rowdelta`). Entries are
      // positive-only per file (vectors only grow until a rewrite drops
      // them with the file), so the diff is new-blob minus old-blob.
      val grown: Map[String, (Option[DvRef], DvRef)] = commit.dvs.collect {
        case (f, d) if cur.contains(f) && prev.contains(f) &&
            !parent.dvs.get(f).contains(d) =>
          f -> (parent.dvs.get(f), d)
      }
      if (added.isEmpty && removed.isEmpty && grown.isEmpty) None
      else Some(commitDelta(ss, dir, meta, v, added, removed, parent.dvs, grown, keyCols))
    }
  }

  /** The net row delta of one commit, classified. One-sided commits
    * (pure append / pure truncate) are emitted directly; a COW rewrite
    * takes ONE shuffle: both sides tagged, grouped by key, the pre/post
    * snapshots compared null-safely so untouched copies vanish. No
    * caching, no joins — the plan reads each touched file exactly once.
    */
  private def commitDelta(ss: SparkSession, dir: Path, meta: TableMeta, v: Int,
                          added: Seq[String], removed: Seq[String],
                          parentDvs: Map[String, DvRef],
                          grown: Map[String, (Option[DvRef], DvRef)],
                          keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{max, struct, when, not, explode, array}
    val addedRows = readFiles(ss, dir, meta, added)
    // removed (rewritten/dropped) files are read through the PARENT's
    // vectors: rows that were already tombstoned before this commit were
    // deleted by an EARLIER commit and must not re-surface here
    val removedWhole = Dv.maskedFrame(ss, dir, meta.schema, removed,
      parentDvs.view.filterKeys(removed.toSet).toMap)
    // plus the rows newly tombstoned in surviving files (vector growth)
    val removedRows =
      if (grown.isEmpty) removedWhole
      else removedWhole.unionAll(dvGrowthRows(ss, dir, meta, grown))
    val anyRemoved = removed.nonEmpty || grown.nonEmpty
    if (!anyRemoved) withChangeSchema(addedRows, lit("insert"), lit(v))
    else if (added.isEmpty) withChangeSchema(removedRows, lit("delete"), lit(v))
    else if (keyCols.isEmpty) {
      // No key: the delta is the multiset difference each way. Each
      // exceptAll is one hash aggregation over the commit's churn.
      withChangeSchema(addedRows.exceptAll(removedRows), lit("insert"), lit(v))
        .unionAll(withChangeSchema(removedRows.exceptAll(addedRows), lit("delete"), lit(v)))
    } else {
      val dataCols = meta.schema.fieldNames.toSeq
      val rowStruct = struct(dataCols.map(col): _*)
      val tagged = addedRows.select(rowStruct.as("_row"), lit(1).as("_side"))
        .unionAll(removedRows.select(rowStruct.as("_row"), lit(-1).as("_side")))
      // Keys are unique per snapshot, so each side contributes at most
      // one row per key and max() just picks it out.
      val byKey = tagged
        .groupBy(keyCols.map(k => col(s"_row.$k")): _*)
        .agg(max(when(col("_side") === 1, col("_row"))).as("_post"),
             max(when(col("_side") === -1, col("_row"))).as("_pre"))
        .where(not(col("_pre") <=> col("_post")))
      val changes = byKey.select(explode(array(
        when(col("_pre").isNotNull && col("_post").isNotNull,
          struct(col("_pre").as("_row"), lit("update_preimage").as("_ct")))
          .otherwise(when(col("_pre").isNotNull,
            struct(col("_pre").as("_row"), lit("delete").as("_ct")))),
        when(col("_pre").isNotNull && col("_post").isNotNull,
          struct(col("_post").as("_row"), lit("update_postimage").as("_ct")))
          .otherwise(when(col("_post").isNotNull,
            struct(col("_post").as("_row"), lit("insert").as("_ct"))))
      )).as("_c")).where(col("_c").isNotNull)
      changes.select((dataCols.map(c => col(s"_c._row.$c")) :+
        col("_c._ct").as(ChangeTypeCol) :+ lit(v).as(CommitVersionCol)): _*)
    }
  }

  /** The rows newly tombstoned by this commit's deletion-vector growth:
    * for each grown file, positions in the new blob but not the old,
    * resolved to rows via `_metadata` row addresses and one broadcast
    * SEMI join — cost ∝ the grown files' size, blob reads distributed
    * and ∝ deleted rows. */
  private def dvGrowthRows(ss: SparkSession, dir: Path, meta: TableMeta,
                           grown: Map[String, (Option[DvRef], DvRef)]): DataFrame = {
    import ss.implicits._
    import org.apache.spark.sql.functions.broadcast
    val confS = new SerHadoopConf(ss.sessionState.newHadoopConf())
    val specs = grown.toSeq.map { case (f, (oldRef, newRef)) =>
      (new org.apache.hadoop.fs.Path(dir.resolve(f).toUri).toString,
        oldRef.map(r => new org.apache.hadoop.fs.Path(dir.resolve(r.path).toUri).toString),
        new org.apache.hadoop.fs.Path(dir.resolve(newRef.path).toUri).toString)
    }
    val fresh = ss.createDataset(specs).flatMap { case (file, oldB, newB) =>
      val old = oldB.map(b => Dv.read(new org.apache.hadoop.fs.Path(b), confS.value).toSet)
        .getOrElse(Set.empty[Long])
      Dv.read(new org.apache.hadoop.fs.Path(newB), confS.value)
        .iterator.filterNot(old).map(p => (file, p))
    }.toDF("_gdv_file", "_gdv_pos")
    val dataCols = meta.schema.fieldNames.toSeq.map(col)
    ss.read.schema(meta.schema)
      .parquet(grown.keys.toSeq.map(f => dir.resolve(f).toString): _*)
      .withColumn("_gdv_file", org.apache.spark.sql.functions.col("_metadata.file_path"))
      .withColumn("_gdv_pos", org.apache.spark.sql.functions.col("_metadata.row_index"))
      .join(broadcast(fresh), Seq("_gdv_file", "_gdv_pos"), "left_semi")
      .select(dataCols: _*)
  }

  private def withChangeSchema(df: DataFrame,
                               changeType: org.apache.spark.sql.Column,
                               version: org.apache.spark.sql.Column): DataFrame =
    df.withColumn(ChangeTypeCol, changeType)
      .withColumn(CommitVersionCol, version)

  private def readFiles(ss: SparkSession, dir: Path, meta: TableMeta,
                        files: Seq[String]): DataFrame =
    if (files.isEmpty) emptySnapshot(ss, meta)
    else ss.read.schema(meta.schema).parquet(files.map(f => dir.resolve(f).toString): _*)

  private def emptySnapshot(ss: SparkSession, meta: TableMeta): DataFrame =
    ss.createDataFrame(java.util.Collections.emptyList[Row](), meta.schema)
}
