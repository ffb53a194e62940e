package graft.catalog

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Read-only manifest inspection for specs, registry queries, and
  * operators outside the catalog package: which data files a version
  * references, without going through a scan. This is the observability
  * half of the file-granular COW contract — "a targeted UPDATE rewrote a
  * strict subset" is checked by diffing two versions' file lists, the
  * same way `q_sql_skipping` reads [[SkipRecorder]] instead of re-deriving
  * the plan. Metadata-scale only: file NAME lists, never data. */
object Manifests {

  /** Resolve a fully qualified `catalog.ns.table` to its table directory
    * through the session's catalog conf, not the thread-bound
    * CatalogManager: the manager's conf lookup reads the THREAD's active
    * session (SQLConf.get), so a lookup from a pool thread — the bench
    * harness, any job-runner — would resolve against the wrong session.
    * [[ChangeFeed.tableChanges]] resolves through here too. */
  def tableDir(ss: SparkSession, table: String): Path = {
    val parts = table.split('.')
    require(parts.length >= 3, s"need a fully qualified catalog.ns.table, got '$table'")
    val cls = ss.conf.getOption(s"spark.sql.catalog.${parts.head}").getOrElse(
      throw new IllegalArgumentException(
        s"'${parts.head}' is not a configured catalog on this session"))
    require(cls == classOf[GraftCatalog].getName,
      s"'${parts.head}' is not a graft catalog (got $cls)")
    val root = Paths.get(ss.conf.get(s"spark.sql.catalog.${parts.head}.root"))
    val dir = parts.tail.foldLeft(root)(_.resolve(_))
    require(Files.exists(dir.resolve(TableMeta.MetaFile)), s"no such table '$table'")
    dir
  }

  /** The data files (paths relative to the table dir) version `v` of the
    * MAIN chain references. */
  def files(ss: SparkSession, table: String, v: Int): Seq[String] =
    TableMeta.read(tableDir(ss, table)).manifest(v).files

  /** The latest main-chain version number. */
  def latestVersion(ss: SparkSession, table: String): Int =
    TableMeta.read(tableDir(ss, table)).latest

  /** Manifest diff of commit `v` against its parent:
    * (previous files, removed, added, inherited) counts. */
  def commitFileDiff(ss: SparkSession, table: String, v: Int): (Int, Int, Int, Int) = {
    val m = TableMeta.read(tableDir(ss, table))
    val prev = m.manifest(v - 1).files.toSet
    val cur = m.manifest(v).files.toSet
    (prev.size, (prev -- cur).size, (cur -- prev).size, (prev & cur).size)
  }

  /** Version `v`'s recorded per-file bucket ids (data file → bucket),
    * None per file when unrecorded — the observability hook for the
    * storage-partitioned-join write contract (Spj.scala). */
  def bucketIds(ss: SparkSession, table: String, v: Int): Map[String, Option[Int]] = {
    val m = TableMeta.read(tableDir(ss, table))
    val mf = m.manifest(v)
    mf.files.map(f => f -> mf.stats.get(f).flatMap(_.bucket)).toMap
  }

  /** Version `v`'s deletion-vector entries: data file → (blob path,
    * tombstoned row count). Empty for COW-only tables. */
  def dvInfo(ss: SparkSession, table: String, v: Int): Map[String, (String, Long)] =
    TableMeta.read(tableDir(ss, table)).manifest(v).dvs
      .map { case (f, d) => f -> (d.path, d.rows) }

  /** Version `v`'s live equality-delete tombstones: (blob path, key
    * column, key count, sequence). Empty until an eq_upsert, and again
    * after a full compact materializes them. */
  def eqInfo(ss: SparkSession, table: String, v: Int): Seq[(String, String, Long, Int)] =
    TableMeta.read(tableDir(ss, table)).manifest(v).eqs
      .map(e => (e.path, e.keyCol, e.rows, e.seq))

  /** The op string of commit `v` on the main chain. */
  def opOf(ss: SparkSession, table: String, v: Int): String =
    TableMeta.read(tableDir(ss, table)).manifest(v).op

  /** Does EVERY data file of the live manifest carry a parquet bloom
    * filter on `column` (first row group probed per file)? `false` for
    * an empty manifest. One footer read per file, no data pages — the
    * observability hook for the `write.bloom.columns` contract. */
  def allFilesHaveBloom(ss: SparkSession, table: String, column: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val dir = tableDir(ss, table)
    val m = TableMeta.read(dir)
    val files = m.manifest(m.latest).files
    val conf = ss.sessionState.newHadoopConf()
    files.nonEmpty && files.forall { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir.resolve(f).toUri), conf))
      try {
        val blocks = reader.getFooter.getBlocks
        !blocks.isEmpty && {
          val block = blocks.get(0)
          block.getColumns.asScala
            .find(_.getPath.toDotString.equalsIgnoreCase(column))
            .exists(c => reader.getBloomFilterDataReader(block).readBloomFilter(c) != null)
        }
      } finally reader.close()
    }
  }
}
