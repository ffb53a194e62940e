package graft.catalog

import java.io.{DataInputStream, DataOutputStream}
import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** EQUALITY DELETES — the zero-read upsert half of merge-on-read
  * (Iceberg v2 equality deletes, the format Flink's CDC sink writes).
  *
  * A POSITION delete ([[Dv]]) needs the row's (file, pos) address, so a
  * keyed MERGE must first READ the matching files to resolve positions —
  * a corpus-side lookup on every streaming batch. An EQUALITY delete
  * skips the read entirely: the writer publishes a small TOMBSTONE blob
  * of key VALUES ("every earlier row whose key is in this set is
  * deleted") plus ordinary insert files, and the commit is done — write
  * cost ∝ the batch, with zero fact-file IO. The price moves to READ
  * time: scans anti-join the tombstones against files OLDER than each
  * tombstone, until `CALL system.compact` materializes them away exactly
  * like deletion vectors.
  *
  * == Sequence semantics (Iceberg's rule) ==
  *
  * Every data file records the commit version that added it
  * ([[Commit.fileSeqs]]; absent = 0, i.e. older than everything). A
  * tombstone with sequence S applies to files whose version is
  * STRICTLY below S — so an upsert's own insert files (same commit,
  * same version) are never masked by its own tombstone, and later
  * inserts of a deleted key survive.
  *
  * == Blob format ==
  *
  * `GEQ1` magic int, key-type byte (0 = long, 1 = string), count
  * (int64), then the DISTINCT SORTED key values (strings as
  * length-prefixed UTF-8). One blob per upsert commit, immutable,
  * reclaimed like data files. Single-column long/string keys only —
  * the id shapes a training corpus actually has.
  *
  * == Read paths ==
  *
  *  - Connector scans: [[EqMaskedScan]] serves each affected file
  *    per-file through the addressed machinery (deletion vectors, if
  *    any, mask first) and filters rows whose key is in the file's
  *    applicable tombstone union — the reader loads the churn-sized
  *    blobs, never the corpus.
  *  - Driver rewrites (compaction/clustering): [[Eq.maskedFrame]] —
  *    files grouped by applicable-tombstone set, each group anti-joined
  *    against the broadcast key union.
  *
  * Everything that cannot see the tombstones refuses loudly while any
  * are live (row-level SQL verbs, streaming reads, CDF, selective
  * compaction): `CALL system.compact` first — never a silent
  * resurrection. */
object Eq {

  private val Magic = 0x47455131 // "GEQ1"

  sealed trait Keys extends Serializable {
    def n: Long
    def containsRow(row: InternalRow, ord: Int): Boolean
    /** Keys that hash into bucket `b` of `n` — the per-bucket-group
      * scoping of a bucketed table's tombstones: a task serving one
      * bucket's file only carries that bucket's slice of the key set
      * (≈ 1/n of it), not the whole churn window. */
    def scopedToBucket(numBuckets: Int, b: Int): Keys
  }
  final case class LongKeys(sorted: Array[Long]) extends Keys {
    override def n: Long = sorted.length.toLong
    override def containsRow(row: InternalRow, ord: Int): Boolean =
      !row.isNullAt(ord) && java.util.Arrays.binarySearch(sorted, row.getLong(ord)) >= 0
    override def scopedToBucket(numBuckets: Int, b: Int): Keys =
      LongKeys(sorted.filter(GraftBucket.bucketOfLong(_, numBuckets) == b))
  }
  final case class StringKeys(set: Set[String]) extends Keys {
    override def n: Long = set.size.toLong
    override def containsRow(row: InternalRow, ord: Int): Boolean =
      !row.isNullAt(ord) && set.contains(row.getUTF8String(ord).toString)
    override def scopedToBucket(numBuckets: Int, b: Int): Keys =
      StringKeys(set.filter(s => GraftBucket.bucketOfString(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), numBuckets) == b))
  }

  def supportedKeyType(dt: DataType): Boolean = dt == LongType || dt == StringType

  def write(abs: org.apache.hadoop.fs.Path, keys: Keys,
            conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = abs.getFileSystem(conf)
    val out = new DataOutputStream(fs.create(abs, false))
    try keys match {
      case LongKeys(vs) =>
        out.writeInt(Magic); out.writeByte(0); out.writeLong(vs.length.toLong)
        vs.foreach(out.writeLong)
      case StringKeys(vs) =>
        out.writeInt(Magic); out.writeByte(1); out.writeLong(vs.size.toLong)
        vs.toSeq.sorted.foreach { s =>
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(b.length); out.write(b)
        }
    } finally out.close()
  }

  def read(abs: org.apache.hadoop.fs.Path,
           conf: org.apache.hadoop.conf.Configuration): Keys = {
    val fs = abs.getFileSystem(conf)
    val in = new DataInputStream(fs.open(abs))
    try {
      require(in.readInt() == Magic, s"$abs is not a graft equality-delete blob")
      val tpe = in.readByte()
      val n = in.readLong()
      require(n >= 0 && n < Int.MaxValue, s"$abs: implausible key count $n")
      tpe match {
        case 0 => LongKeys(Array.fill(n.toInt)(in.readLong()))
        case 1 => StringKeys(Array.fill(n.toInt) {
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
        }.toSet)
        case other => throw new IllegalStateException(s"$abs: unknown eq key type $other")
      }
    } finally in.close()
  }

  /** Union of several blobs' key sets (one file's applicable tombstones). */
  def union(keys: Seq[Keys]): Keys = keys match {
    case Seq(one) => one
    case many if many.forall(_.isInstanceOf[LongKeys]) =>
      LongKeys(many.flatMap(_.asInstanceOf[LongKeys].sorted).distinct.sorted.toArray)
    case many if many.forall(_.isInstanceOf[StringKeys]) =>
      StringKeys(many.flatMap(_.asInstanceOf[StringKeys].set).toSet)
    case other => throw new IllegalStateException(
      s"mixed eq key types in one manifest: ${other.map(_.getClass.getSimpleName).distinct}")
  }

  /** The tombstone blobs (absolute paths) applicable to file `f` under
    * manifest `mf` — strictly-newer tombstones only (sequence rule). */
  def applicableBlobs(dir: Path, mf: Commit, f: String): Seq[String] = {
    val seq = mf.fileSeqs.getOrElse(f, 0)
    mf.eqs.filter(_.seq > seq).map(e => dir.resolve(e.path).toString)
  }

  /** Driver-rewrite masking (the compact/cluster path, the eq twin of
    * [[Dv.maskedFrame]]): DV-masked live rows of `files`, with each
    * file's applicable tombstone keys anti-joined away. Files sharing an
    * applicable set are read as one group; the key side is churn-sized
    * and broadcast. */
  def maskedFrame(ss: SparkSession, dir: Path, schema: StructType,
                  files: Seq[String], dvs: Map[String, DvRef], mf: Commit): DataFrame = {
    if (mf.eqs.isEmpty || files.isEmpty)
      return Dv.maskedFrame(ss, dir, schema, files, dvs)
    val keyName = mf.eqs.head.keyCol
    val keyField = schema.fields.find(_.name.equalsIgnoreCase(keyName)).getOrElse(
      throw new IllegalStateException(
        s"equality-delete key '$keyName' missing from schema (${schema.fieldNames.mkString(", ")})"))
    val conf = ss.sessionState.newHadoopConf()
    import org.apache.spark.sql.functions.{broadcast, col}
    files.groupBy(f => applicableBlobs(dir, mf, f)).toSeq.sortBy(_._1.size).map {
      case (blobs, fs) =>
        val base = Dv.maskedFrame(ss, dir, schema, fs, dvs.view.filterKeys(fs.toSet).toMap)
        if (blobs.isEmpty) base
        else {
          val merged = union(blobs.map(b => read(new org.apache.hadoop.fs.Path(
            java.nio.file.Paths.get(b).toUri), conf)))
          val keyDf = merged match {
            case LongKeys(vs) =>
              import ss.implicits._
              vs.toSeq.toDF(keyField.name)
            case StringKeys(vs) =>
              import ss.implicits._
              vs.toSeq.toDF(keyField.name)
          }
          base.join(broadcast(keyDf), base(keyField.name) === keyDf(keyField.name),
            "left_anti").select(schema.fieldNames.map(col).toSeq: _*)
        }
    }.reduce(_ unionAll _)
  }
}

/** One equality-delete tombstone of a manifest: `path` (table-dir-
  * relative) holds the deleted key values of column `keyCol`, `rows` is
  * their count, `seq` the commit version that published it (applies to
  * data files with a strictly lower [[Commit.fileSeqs]] entry). */
private[catalog] case class EqRef(path: String, keyCol: String, rows: Long, seq: Int)

/** `CALL <cat>.system.eq_upsert(table => 'ns.t', source => '<view>',
  * key => '<col>')` — the ZERO-READ keyed upsert (VERDICT r15 #2). One
  * commit publishes the source's rows as ordinary insert files plus ONE
  * equality tombstone of their key values: every OLDER row with one of
  * those keys is dead, the batch's own rows live. No fact file is
  * opened — write cost ∝ the batch, where a MOR MERGE pays a corpus-
  * side (file, pos) lookup per batch. The steady state is the Flink→
  * Iceberg CDC loop: stream-upsert all day at batch cost, compact
  * nightly to materialize the tombstones and restore every read-side
  * optimization (SPJ, folds, limit/metadata pruning stand down while
  * tombstones are live).
  *
  * Guards (all loud): single-column BIGINT/STRING key; batch keys must
  * be non-null and distinct (intra-batch ordering is undefined — the
  * caller dedups, exactly like a CDC sink); the source must cover the
  * table's columns. Bucket-clustered targets stage the batch per
  * bucket (hive-partitioned by the catalog's own murmur mixer), so
  * insert files stay bucket-pure with recorded ids and the
  * storage-partitioned join survives the upsert.
  * Returns (version, inserted_rows, tombstone_keys). */
private[catalog] class EqUpsertProcedure(cat: GraftCatalog) extends GraftProcedure(
    "eq_upsert",
    "keyed upsert as insert files + one equality-delete tombstone (zero fact-file reads)",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("source", StringType)
        .comment("view/table whose rows upsert into the target").build(),
      ProcedureParameter.in("key", StringType)
        .comment("single BIGINT/STRING key column").build()),
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("inserted_rows", LongType, nullable = false),
      StructField("tombstone_keys", LongType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val ss = SparkSession.active
    val table = input.getUTF8String(0).toString
    val source = input.getUTF8String(1).toString
    val keyName = input.getUTF8String(2).toString
    val dir = cat.existingTableDir(table)
    val m = TableMeta.read(dir)
    val keyField = m.schema.fields.find(_.name.equalsIgnoreCase(keyName)).getOrElse(
      throw new IllegalArgumentException(
        s"$table: no key column '$keyName' (${m.schema.fieldNames.mkString(", ")})"))
    require(Eq.supportedKeyType(keyField.dataType),
      s"$table: eq_upsert keys must be BIGINT or STRING; " +
        s"'$keyName' is ${keyField.dataType.simpleString}")
    // a bucket-clustered target keeps its layout: the batch stages
    // per-bucket (below), so insert files stay bucket-pure and the
    // storage-partitioned join survives the upsert (eq-affected
    // files temporarily route through the masked path; compact
    // restores the full SPJ read)
    val bucketLayout = m.clusterBy.flatMap(ClusterSpec.parseBucket).headOption
    // one key column per table: mixed-key tombstone sets would need
    // per-blob schema plumbing the read path doesn't carry
    m.manifest(m.latest).eqs.headOption.foreach(e =>
      require(e.keyCol.equalsIgnoreCase(keyName),
        s"$table already carries equality tombstones keyed by '${e.keyCol}'; " +
          s"got key '$keyName' — one key column per table"))

    // align to the table schema AND carry its field-id metadata per
    // column (`.to` aligns names/types but drops metadata; the
    // parquet writer only stamps ids it finds in the df schema)
    val batch = ss.table(source).to(m.schema).select(m.schema.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).as(f.name, f.metadata)).toSeq: _*)
    val t0 = new GraftTable(table, dir, pinnedVersion = None)
    val staging = dir.resolve("data").resolve(
      s"c-${java.util.UUID.randomUUID().toString.take(12)}")
    bucketLayout match {
      case None =>
        batch.write.options(t0.bloomWriteOptions).parquet(staging.toString)
      case Some(bl) =>
        // ONE pass: hive-partition the staged write by the row's
        // bucket id (the catalog's own murmur mixer, resolved as the
        // v2 `bucket` function) — each file lands bucket-pure under a
        // __gb=<id> dir, id recovered below; NULL keys ride bucket 0
        // like every other write path
        batch.withColumn("__gb", org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(
              s"`${cat.name()}`.bucket(${bl.numBuckets}, `${bl.column}`)"),
            org.apache.spark.sql.functions.lit(0)))
          .write.options(t0.bloomWriteOptions).partitionBy("__gb")
          .parquet(staging.toString)
    }
    val w = java.nio.file.Files.walk(staging)
    val abs = try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
    } finally w.close()
    val conf = ss.sessionState.newHadoopConf()
    val stats0 = FooterStats.collect(dir, abs, m.schema, conf,
      requireIdsAs = t0.idRequirement)
    val stats = bucketLayout match {
      case None => stats0
      case Some(_) => stats0.map { case (r, fs) =>
        val seg = java.nio.file.Paths.get(r).getParent.getFileName.toString
        val b = "^__gb=(\\d+)$".r.findFirstMatchIn(seg).map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(
            s"$table: staged eq-upsert file '$r' outside a bucket dir"))
        r -> fs.copy(bucket = Some(b))
      }
    }
    val rel = abs.map(p => dir.relativize(p).toString)
    val inserted = stats.values.map(_.rows).sum

    // keys come from the STAGED files (single source of truth; the
    // source view may be nondeterministic) — churn-sized read
    val keyRows = ss.read.parquet(abs.map(_.toString): _*)
      .select(keyField.name).collect()
    require(keyRows.forall(!_.isNullAt(0)),
      s"$table: eq_upsert batch has NULL '$keyName' keys; a null key cannot " +
        "tombstone earlier rows — filter or fix the source")
    val keys: Eq.Keys = keyField.dataType match {
      case LongType => Eq.LongKeys(keyRows.map(_.getLong(0)).distinct.sorted)
      case _ => Eq.StringKeys(keyRows.map(_.getString(0)).toSet)
    }
    require(keys.n == keyRows.length,
      s"$table: eq_upsert batch has duplicate '$keyName' keys " +
        s"(${keyRows.length} rows, ${keys.n} distinct); intra-batch order is " +
        "undefined — dedup the source first (CDC sinks keep the last image)")

    val (version, nKeys) =
      if (inserted == 0 && keys.n == 0) (t0.currentLatest, 0L)
      else {
        val blobRel = s"data/eq-${java.util.UUID.randomUUID().toString.take(12)}.eq"
        Eq.write(new org.apache.hadoop.fs.Path(dir.resolve(blobRel).toUri), keys, conf)
        t0.commitVersion("equpsert", t0.currentLatest, rel, replace = false,
          newStats = stats, eqAdd = Some((blobRel, keyField.name, keys.n)))
        (t0.currentLatest, keys.n)
      }
    Seq(InternalRow(version, inserted, nKeys))
  }
}

/** One per-file slice of an [[EqMaskedScan]]: the addressed partition
  * (deletion-vector blob included, None when clean), the file's
  * applicable tombstone blob paths, and — on a bucketed table — the
  * file's (numBuckets, bucket) so the reader scopes the key set to its
  * own bucket group. */
case class EqPartition(inner: AddrPartition, eqBlobs: Seq[String],
                       bucket: Option[(Int, Int)] = None)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** The connector read path for equality-masked files: every affected
  * file plans PER FILE through the addressed machinery (vectors mask
  * first, filter-free for position stability), then rows whose key is
  * in the file's applicable tombstone union are skipped, and the key
  * column — appended to the scan schema only for the mask's sake — is
  * projected back off. Row-path only (PARTITION_DEFINED; the eq-affected
  * set is the churn window, the clean bulk keeps vectorized reads). */
class EqMaskedScan(
    entries: Seq[(String, Seq[String])], // (relFile, applicable eq blobs)
    addr: AddrSupport,
    bareScanWith: (Seq[String], StructType) => Scan,
    emitSchema: StructType,
    keyField: StructField,
    bucketOf: String => Option[(Int, Int)] = _ => None) extends Scan {

  private val keyIncluded = emitSchema.fields.exists(_.name.equalsIgnoreCase(keyField.name))
  private val scanSchema =
    if (keyIncluded) emitSchema
    else StructType(emitSchema.fields :+ keyField)
  private val keyOrd = scanSchema.fields.indexWhere(_.name.equalsIgnoreCase(keyField.name))

  override def readSchema(): StructType = emitSchema
  override def description(): String =
    s"graft eq-masked scan (${entries.size} files, key ${keyField.name})"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      entries.flatMap { case (f, blobs) =>
        val (abs, dvBlob) = addr.addrOf(f)
        bareScanWith(Seq(f), scanSchema).toBatch.planInputPartitions()
          .map(p => EqPartition(AddrPartition(p, f, abs, dvBlob), blobs,
            bucketOf(f)): InputPartition)
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      EqReaderFactory(
        AddrReaderFactory(
          bareScanWith(entries.map(_._1), scanSchema).toBatch.createReaderFactory(),
          addr.conf, wantFile = false, wantPos = false),
        addr.conf, keyOrd, keyIncluded, emitSchema)
  }
}

/** Forces ROW reads on a delegate scan: Spark refuses a scan whose
  * partitions disagree on columnar support, and the eq-masked side is
  * row-based — so while tombstones are live the clean bulk rides the
  * row path too (the read-side tax of equality deletes; compact
  * restores vectorized reads). */
class RowOnlyScan(inner: Scan) extends Scan {
  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = s"${inner.description()} (row-only)"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED
  override def toBatch: Batch = new Batch {
    private val b = inner.toBatch
    override def planInputPartitions(): Array[InputPartition] = b.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      RowOnlyFactory(b.createReaderFactory())
  }
}

case class RowOnlyFactory(inner: PartitionReaderFactory) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = false
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(partition)
}

/** Wraps the addressed row readers with the key-set filter and (when the
  * key column was appended only for masking) a codegen projection back
  * to the emit schema. */
case class EqReaderFactory(inner: AddrReaderFactory, conf: SerHadoopConf,
                                            keyOrd: Int, keyIncluded: Boolean,
                                            emitSchema: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EqPartition]
    val d = inner.createReader(p.inner)
    val loaded = Eq.union(p.eqBlobs.map(b =>
      Eq.read(new org.apache.hadoop.fs.Path(java.nio.file.Paths.get(b).toUri), conf.value)))
    // bucketed file: only the keys hashing into ITS bucket can match —
    // the per-task set drops to ~1/n of the churn window
    val keys = p.bucket.fold(loaded) { case (n, b) => loaded.scopedToBucket(n, b) }
    val project =
      if (keyIncluded) null
      else org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
        emitSchema.fields.indices.map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, emitSchema.fields(i).dataType, emitSchema.fields(i).nullable)
            : org.apache.spark.sql.catalyst.expressions.Expression))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (d.next()) {
          val r = d.get()
          if (!keys.containsRow(r, keyOrd)) { cur = r; return true }
        }
        false
      }
      override def get(): InternalRow = if (project == null) cur else project(cur)
      override def close(): Unit = d.close()
    }
  }
}
