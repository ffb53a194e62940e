package graft.catalog

import java.io.{DataInputStream, DataOutputStream, IOException, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** DELETION VECTORS — the merge-on-read half of the catalog's row-level
  * story (Delta's deletion vectors / Iceberg v2 position deletes). A
  * vector is a blob of sorted row POSITIONS (0-based physical row index
  * within one immutable data file) that are deleted as of a manifest
  * version; readers of a vectored file skip those positions, writers of
  * a MOR DELETE/UPDATE/MERGE append new blobs instead of rewriting data
  * files. `OPTIMIZE` (CALL compact/cluster) and any COW rewrite
  * MATERIALIZE vectors away — the rewritten files carry none.
  *
  * == Blob format ==
  *
  * `GDV1` magic int, row count (int64), then count sorted int64
  * positions — a few KB for a takedown batch. One blob per (commit,
  * data file); a later commit deleting MORE rows of the same file writes
  * a NEW blob holding the UNION and repoints the manifest entry
  * ([[DvRef]]), so any single manifest needs exactly one blob read per
  * vectored file and historical manifests keep their old blobs (time
  * travel). Blobs live beside data files under `data/` with a `.dv`
  * suffix — immutable, reclaimed by `expire_versions`/`remove_orphans`
  * exactly like data files.
  *
  * == Position semantics ==
  *
  * A position is the row's index in the file's own physical row order —
  * the order a full, filter-free scan of that single file emits. That is
  * only stable if NOTHING prunes inside the file, so every reader that
  * produces or consumes positions ([[AddressedScan]]) plans the file
  * WITHOUT pushed filters (parquet row-group/page pruning would renumber
  * survivors); Spark re-evaluates all predicates above the scan, so this
  * costs IO on vectored files only, never correctness. Split mapping
  * reuses parquet-mr's own assignment rule (a row group belongs to the
  * split containing its byte MIDPOINT), so positions agree across tasks
  * whatever the split geometry.
  */
object Dv {

  val PosCol = "_pos"
  private val Magic = 0x47445631 // "GDV1"

  val posColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = PosCol
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "0-based physical row position within the row's data file"
  }

  /** Split a pruned schema into (data schema, wantFile, wantPos) — the
    * generalization of [[FileTag.splitSchema]] for both metadata cols. */
  def splitSchema(required: StructType, fileShadowed: Boolean,
                  posShadowed: Boolean): (StructType, Boolean, Boolean) = {
    val wantFile = !fileShadowed && required.fieldNames.contains(FileTag.Col)
    val wantPos = !posShadowed && required.fieldNames.contains(PosCol)
    val data = StructType(required.fields.filterNot(f =>
      (wantFile && f.name == FileTag.Col) || (wantPos && f.name == PosCol)))
    (data, wantFile, wantPos)
  }

  /** Write a vector blob (sorted positions) at `abs`; caller owns naming
    * and manifest pointing. */
  def write(abs: org.apache.hadoop.fs.Path, positions: Array[Long], conf: Configuration): Unit = {
    require(positions.sameElements(positions.sorted), "deletion vector positions must be sorted")
    val fs = abs.getFileSystem(conf)
    val out = new DataOutputStream(fs.create(abs, false))
    try {
      out.writeInt(Magic)
      out.writeLong(positions.length.toLong)
      positions.foreach(out.writeLong)
    } finally out.close()
  }

  def read(abs: org.apache.hadoop.fs.Path, conf: Configuration): Array[Long] = {
    val fs = abs.getFileSystem(conf)
    val in = new DataInputStream(fs.open(abs))
    try {
      require(in.readInt() == Magic, s"$abs is not a graft deletion vector")
      val n = in.readLong()
      require(n >= 0 && n < Int.MaxValue, s"$abs: implausible position count $n")
      Array.fill(n.toInt)(in.readLong())
    } finally in.close()
  }

  /** DataFrame-side masking for DRIVER-INITIATED rewrites (compaction,
    * clustering, the change feed): the live rows of `files` under the
    * manifest's vectors, via `_metadata` row addresses and one LEFT ANTI
    * join against the (file, pos) tombstones. The tombstone side is read
    * DISTRIBUTEDLY from the blobs (cost ∝ deleted rows) and is churn-
    * sized, so Spark broadcasts it. Connector-path reads (user SELECTs)
    * use [[AddressedScan]] instead — a join cannot live inside a DSv2
    * Scan. */
  def maskedFrame(ss: SparkSession, tableDir: Path, schema: StructType,
                  files: Seq[String], dvs: Map[String, DvRef]): DataFrame = {
    if (files.isEmpty)
      return ss.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val snapshot = ss.read.schema(schema)
      .parquet(files.map(f => tableDir.resolve(f).toString): _*)
    val vectored = files.filter(dvs.contains)
    if (vectored.isEmpty) return snapshot
    import ss.implicits._
    val confS = new SerHadoopConf(ss.sessionState.newHadoopConf())
    // (absolute hadoop path string, blob path string) per vectored file —
    // the SAME normalization `_metadata.file_path` uses (hadoop Path URI)
    val pairs = vectored.map { f =>
      (new org.apache.hadoop.fs.Path(tableDir.resolve(f).toUri).toString,
        new org.apache.hadoop.fs.Path(tableDir.resolve(dvs(f).path).toUri).toString)
    }
    val tombstones = ss.createDataset(pairs).flatMap { case (file, blob) =>
      Dv.read(new org.apache.hadoop.fs.Path(blob), confS.value).map(p => (file, p))
    }.toDF("_gdv_file", "_gdv_pos")
    val dataCols = schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
    snapshot
      .withColumn("_gdv_file", org.apache.spark.sql.functions.col("_metadata.file_path"))
      .withColumn("_gdv_pos", org.apache.spark.sql.functions.col("_metadata.row_index"))
      .join(org.apache.spark.sql.functions.broadcast(tombstones),
        Seq("_gdv_file", "_gdv_pos"), "left_anti")
      .select(dataCols: _*)
  }
}

/** Everything a scan builder outside this package needs to serve
  * addressed reads of one manifest: which files carry a deletion vector,
  * each file's (absolute path, absolute blob path) pair, and a
  * serializable Hadoop conf for task-side footer/blob IO. */
case class AddrSupport(isVectored: String => Boolean,
                       addrOf: String => (String, Option[String]),
                       conf: SerHadoopConf)

/** A serializable Hadoop Configuration (Spark's own helper is
  * private[spark]; this is the standard connector re-expression —
  * writeObject streams the conf's XML form). */
class SerHadoopConf(@transient var value: Configuration) extends Serializable {
  @throws(classOf[IOException])
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws(classOf[IOException])
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** One per-file slice of an [[AddressedScan]]: the delegate's partition
  * plus everything the reader needs to ADDRESS its rows — the file's
  * manifest-relative path (the `_file` tag), its absolute path (footer
  * lookup for split→position mapping), and the deletion-vector blob to
  * mask (absolute, if any). */
case class AddrPartition(inner: InputPartition, relFile: String, absFile: String,
                         absBlob: Option[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Reader factory for addressed partitions — BOTH read paths served:
  * the ROW path skips masked positions row by row; the COLUMNAR path
  * (VERDICT r13 #3) keeps the delegate's vectorized parquet batches and
  * applies the mask as a row-index REMAP — each returned batch wraps the
  * delegate's column vectors in [[MaskedColumnVector]] (one array-lookup
  * indirection per access, no copy, no de-vectorization), appending
  * `_file` as a constant vector and `_pos` as a computed one. A MOR
  * table under churn therefore keeps vectorized analytical scans on its
  * vectored files — the read-side tax of deletion vectors drops from
  * "whole scan rows-only" to one indirection on the masked files.
  * Split→position mapping comes from the parquet footer with
  * parquet-mr's own midpoint rule on either path. */
case class AddrReaderFactory(inner: PartitionReaderFactory, conf: SerHadoopConf,
                             wantFile: Boolean, wantPos: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition.asInstanceOf[AddrPartition].inner)

  /** (split → (startPos, rows) segments, deletion mask or null) for one
    * addressed partition — shared by the row and columnar readers. */
  private def addressing(p: AddrPartition): (Array[(Long, Long)], java.util.BitSet) = {
    import scala.jdk.CollectionConverters._
    val fp = p.inner match {
      case f: org.apache.spark.sql.execution.datasources.FilePartition => f
      case other => throw new IllegalStateException(
        s"addressed scan expected a FilePartition, got ${other.getClass.getName}")
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.absFile), conf.value))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    def mid(b: org.apache.parquet.hadoop.metadata.BlockMetaData): Long =
      b.getStartingPos + b.getCompressedSize / 2
    // cumulative row index at each block start
    val cum = blocks.scanLeft(0L)(_ + _.getRowCount)
    val segments: Array[(Long, Long)] = fp.files.map { pf =>
      val startRow = blocks.indices
        .filter(i => mid(blocks(i)) < pf.start)
        .map(blocks(_).getRowCount).sum
      val rows = blocks.indices
        .filter(i => mid(blocks(i)) >= pf.start && mid(blocks(i)) < pf.start + pf.length)
        .map(blocks(_).getRowCount).sum
      (startRow, rows)
    }.toArray
    val totalRows = cum.last
    val mask: java.util.BitSet = p.absBlob match {
      case None => null
      case Some(blob) =>
        val bs = new java.util.BitSet()
        Dv.read(new org.apache.hadoop.fs.Path(blob), conf.value).foreach { pos =>
          require(pos >= 0 && pos < totalRows,
            s"${p.relFile}: deletion vector position $pos out of range [0, $totalRows)")
          bs.set(pos.toInt)
        }
        bs
    }
    (segments, mask)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[AddrPartition]
    val d = inner.createColumnarReader(p.inner)
    val (segments, mask) = addressing(p)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var seg = 0
      private var emittedInSeg = 0L

      override def next(): Boolean = d.next()

      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = d.get()
        val rows = b.numRows()
        // batches never span splits (one underlying reader per split),
        // so advance whole segments, then place this batch in the current
        while (seg < segments.length && emittedInSeg >= segments(seg)._2) {
          seg += 1; emittedInSeg = 0L
        }
        // a zero-row batch still owes the READ SCHEMA's column count
        // (ColumnarToRow binds every column before checking numRows), so
        // fall through and build the full-shape batch with base 0
        if (rows > 0 &&
            (seg >= segments.length || emittedInSeg + rows > segments(seg)._2))
          throw new IllegalStateException(
            s"${p.relFile}: delegate batch exceeds the footer's split row accounting")
        val base = if (rows == 0) 0L else segments(seg)._1 + emittedInSeg
        emittedInSeg += rows
        val rowMap: Array[Int] =
          if (mask == null) null
          else {
            val buf = new Array[Int](rows)
            var i = 0; var k = 0
            while (i < rows) {
              if (!mask.get((base + i).toInt)) { buf(k) = i; k += 1 }
              i += 1
            }
            java.util.Arrays.copyOf(buf, k)
          }
        val nOut = if (rowMap == null) rows else rowMap.length
        val dataCols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
          if (rowMap == null) Array.tabulate(b.numCols())(b.column)
          else Array.tabulate(b.numCols())(j =>
            new MaskedColumnVector(b.column(j), rowMap))
        var cols = dataCols
        if (wantFile) {
          val const = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
            1, org.apache.spark.sql.types.StringType)
          const.setUtf8String(UTF8String.fromString(p.relFile))
          cols = cols :+ (const: org.apache.spark.sql.vectorized.ColumnVector)
        }
        if (wantPos)
          cols = cols :+ (new PosColumnVector(base, rowMap):
            org.apache.spark.sql.vectorized.ColumnVector)
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols, nOut)
      }

      override def close(): Unit = d.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AddrPartition]
    val d = inner.createReader(p.inner)
    val (segments, mask) = addressing(p)

    val nMeta = (if (wantFile) 1 else 0) + (if (wantPos) 1 else 0)
    val suffix = new GenericInternalRow(nMeta)
    if (wantFile) suffix.update(0, UTF8String.fromString(p.relFile))
    val posSlot = if (wantFile) 1 else 0
    val joined = new JoinedRow

    new PartitionReader[InternalRow] {
      private var seg = 0
      private var emittedInSeg = 0L
      private var pos = -1L

      private def advance(): Boolean = {
        while (d.next()) {
          while (seg < segments.length && emittedInSeg >= segments(seg)._2) {
            seg += 1; emittedInSeg = 0L
          }
          if (seg >= segments.length) throw new IllegalStateException(
            s"${p.relFile}: delegate emitted more rows than the footer accounts for")
          pos = segments(seg)._1 + emittedInSeg
          emittedInSeg += 1
          if (mask == null || !mask.get(pos.toInt)) return true
        }
        false
      }

      override def next(): Boolean = advance()
      override def get(): InternalRow =
        if (nMeta == 0) d.get()
        else {
          if (wantPos) suffix.update(posSlot, pos)
          joined(d.get(), suffix)
        }
      override def close(): Unit = d.close()
    }
  }
}

/** A Scan over files that need ROW ADDRESSES — masked by deletion
  * vectors and/or producing `_file`/`_pos`. Plans the delegate PER FILE
  * (each partition knows its file), with NO pushed filters (position
  * stability — see [[Dv]]). `files` is re-read at plan time so runtime
  * narrowing subclasses keep working. */
class AddressedScan(files: () => Seq[String],
                    mkScanFor: Seq[String] => Scan,
                    dataSchema: StructType,
                    wantFile: Boolean, wantPos: Boolean,
                    addrOf: String => (String, Option[String]),
                    conf: SerHadoopConf) extends Scan {
  override def readSchema(): StructType = {
    var s = dataSchema
    if (wantFile) s = s.add(FileTag.Col, org.apache.spark.sql.types.StringType, nullable = false)
    if (wantPos) s = s.add(Dv.PosCol, LongType, nullable = false)
    s
  }
  override def description(): String = {
    val metas = (if (wantFile) Seq(FileTag.Col) else Nil) ++ (if (wantPos) Seq(Dv.PosCol) else Nil)
    s"graft addressed scan${if (metas.nonEmpty) metas.mkString(" (+", ",", ")") else ""}"
  }
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      files().flatMap { f =>
        val (abs, blob) = addrOf(f)
        mkScanFor(Seq(f)).toBatch.planInputPartitions()
          .map(p => AddrPartition(p, f, abs, blob))
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      AddrReaderFactory(mkScanFor(files()).toBatch.createReaderFactory(), conf,
        wantFile, wantPos)
  }
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED
}

/** Two sub-scans presented as one: `clean` keeps the fast path (one
  * bin-packed delegate over unvectored files, filters pushed, vectorized
  * reads), `addressed` serves the vectored files. Partitions are
  * dispatched to the factory that planned them. */
class SplitScan(clean: Scan, addressed: Scan, schema: StructType,
                mkStream: String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream,
                manifestRows: Option[Long] = None, manifestBytes: Option[Long] = None,
                manifestColStats: java.util.Map[
                  org.apache.spark.sql.connector.expressions.NamedReference,
                  org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
                  java.util.Collections.emptyMap())
    extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = schema
  /** Planner statistics from the MANIFEST (exact live rows — tombstones
    * netted — and on-disk bytes of the kept files): the clean delegate
    * only knows its own unvectored subset, so forwarding would
    * under-report and mis-size joins on heavily-vectored tables. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        manifestBytes.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        manifestRows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = manifestColStats
    }
  override def description(): String =
    s"graft split scan [clean: ${clean.description()} | dv: ${addressed.description()}]"
  override def toBatch: Batch = new Batch {
    private val cb = clean.toBatch
    private val ab = addressed.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      cb.planInputPartitions().map(p => SplitPartition(p, addressed = false): InputPartition) ++
        ab.planInputPartitions().map(p => SplitPartition(p, addressed = true): InputPartition)
    override def createReaderFactory(): PartitionReaderFactory =
      SplitReaderFactory(cb.createReaderFactory(), ab.createReaderFactory())
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    mkStream(checkpointLocation)
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED
}

case class SplitPartition(inner: InputPartition, addressed: Boolean) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

case class SplitReaderFactory(clean: PartitionReaderFactory, addr: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def route(p: InputPartition): (PartitionReaderFactory, InputPartition) = {
    val sp = p.asInstanceOf[SplitPartition]
    (if (sp.addressed) addr else clean, sp.inner)
  }
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (f, p) = route(partition)
    f.createReader(p)
  }
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val (f, p) = route(partition)
    f.createColumnarReader(p)
  }
  // Spark refuses MIXED row/columnar partitions within one scan, and
  // since r14 it never has to: the addressed side serves columnar
  // batches too (AddrReaderFactory's masked remap), so both routes
  // report the delegate parquet factory's own verdict — uniform by
  // construction (same format, same schema on both sides) and
  // vectorized whenever plain parquet would be.
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val (f, p) = route(partition)
    f.supportColumnarReads(p)
  }
}

/** A no-copy deletion-mask view over a delegate column vector: surviving
  * row `i` reads the delegate's row `rowMap(i)`. One array lookup per
  * access — the whole-batch alternative (rebuilding compacted vectors)
  * would copy every value to drop a handful of tombstones. Children of
  * struct columns wrap recursively (a ColumnarRow addresses children
  * with the PARENT's row id); arrays/maps return the delegate's physical
  * views untouched. Lifecycle: the delegate's reader owns the underlying
  * memory; close here is a no-op. */
private[catalog] class MaskedColumnVector(d: ColumnVector, rowMap: Array[Int])
    extends ColumnVector(d.dataType()) {
  private lazy val kids = new java.util.concurrent.ConcurrentHashMap[Integer, MaskedColumnVector]()
  override def close(): Unit = ()
  override def hasNull: Boolean = d.hasNull
  override def numNulls(): Int = d.numNulls() // may overcount masked nulls; informational
  override def isNullAt(i: Int): Boolean = d.isNullAt(rowMap(i))
  override def getBoolean(i: Int): Boolean = d.getBoolean(rowMap(i))
  override def getByte(i: Int): Byte = d.getByte(rowMap(i))
  override def getShort(i: Int): Short = d.getShort(rowMap(i))
  override def getInt(i: Int): Int = d.getInt(rowMap(i))
  override def getLong(i: Int): Long = d.getLong(rowMap(i))
  override def getFloat(i: Int): Float = d.getFloat(rowMap(i))
  override def getDouble(i: Int): Double = d.getDouble(rowMap(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    d.getArray(rowMap(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    d.getMap(rowMap(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    d.getDecimal(rowMap(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = d.getUTF8String(rowMap(i))
  override def getBinary(i: Int): Array[Byte] = d.getBinary(rowMap(i))
  override def getChild(ordinal: Int): ColumnVector =
    kids.computeIfAbsent(ordinal, o => new MaskedColumnVector(d.getChild(o), rowMap))
}

/** The `_pos` column on the columnar path: physical position =
  * batch base + the row's original index (identity when unmasked). */
private[catalog] class PosColumnVector(base: Long, rowMap: Array[Int])
    extends ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls(): Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long =
    base + (if (rowMap == null) i else rowMap(i))
  private def unsupported: Nothing =
    throw new UnsupportedOperationException(s"${Dv.PosCol} is a bigint column")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    unsupported
  override def getUTF8String(i: Int): UTF8String = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
  override def getChild(ordinal: Int): ColumnVector = unsupported
}
